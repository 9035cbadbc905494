"""Sentence splitting + deterministic dependency parsing.

The reference parses with a CoreNLP HTTP server (rdf_graph.py:58-66,
rdf_parse.py:63-102) or in-process spaCy (rdf_extract.py:1001-1005) —
process/node boundaries that cannot exist on executors at 10^12-document
scale. The rebuild replaces them with a deterministic, lexicon-driven
rule parser (SURVEY.md §7.1 step 4) sufficient to drive the SVO
heuristic: the corpus grammar is closed, so for grammar sentences this
parser reproduces the gold parse exactly; for noise it degrades safely
(fragments with no verb yield no triples).

Output rows mirror the reference's sentence abstraction
(rdf_parse.py:144-209): a token array of
``(i 1-based, text, lemma, pos, head 0-based governor (-1=root), dep)``.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from .clean import clean_document
from .html_text import extract_article_text

SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")
_OPEN_PUNCT = "([{"
_CLOSE_PUNCT = ")]}.,;:?!"
_PUNCT_POS = {"(": "-LRB-", ")": "-RRB-", "[": "-LRB-", "]": "-RRB-",
              "{": "-LRB-", "}": "-RRB-", ",": ",", ";": ":", ":": ":",
              ".": ".", "?": ".", "!": "."}

SENTENCES_SCHEMA = (
    "url string, sent_id int, text string, "
    "tokens array<struct<i:int, text:string, lemma:string, pos:string, "
    "head:int, dep:string>>"
)


def split_sentences(text: str) -> list[str]:
    """Deterministic rule splitter standing in for CoreNLP ssplit /
    nltk.sent_tokenize (rdf_graph.py:150-158)."""
    if not text:
        return []
    return [s for s in (p.strip() for p in SENT_SPLIT.split(text)) if s]


def tokenize(sentence: str) -> list[str]:
    """Whitespace tokenizer with punctuation peeling (stand-in for the
    CoreNLP tokenizer over this corpus's character set)."""
    out: list[str] = []
    for raw in sentence.split():
        lead: list[str] = []
        while raw and raw[0] in _OPEN_PUNCT:
            lead.append(raw[0])
            raw = raw[1:]
        tail: list[str] = []
        while raw and raw[-1] in _CLOSE_PUNCT:
            tail.append(raw[-1])
            raw = raw[:-1]
        out.extend(lead)
        if raw:
            out.append(raw)
        out.extend(reversed(tail))
    return out


def tag(word: str, lexicon: dict[str, str]) -> str:
    lw = word.lower()
    if lw in lexicon:
        return lexicon[lw]
    if word in _PUNCT_POS:
        return _PUNCT_POS[word]
    if word.replace(".", "").replace(",", "").isdigit():
        return "CD"
    return "NN"  # closed-world default: unknown content words are nouns


def parse_tokens_columns(words: list[str], lexicon: dict[str, str],
                         lemmas: dict[str, str]
                         ) -> tuple[list, list, list, list, list, list]:
    """Deterministic dependency parse → column-oriented output
    ``(i, text, lemma, pos, head, dep)`` as six parallel lists.

    Rules (gold-exact for the corpus grammar):
      * contiguous DT/JJ/NN* runs chunk into NPs; head = last N*;
        DT→det, JJ→amod, non-head N*→compound
      * first verb is ROOT; the NP immediately preceding it → nsubj,
        earlier pre-verb NPs → dep
      * first post-verb non-PP NP → dobj, later ones → dep
      * IN starting a PP: IN→case on the PP noun; PP NP head → nmod on
        the preceding NP head (or verb if none)
      * RB → advmod on the root verb; extra verbs → dep on root;
        punctuation → punct on root
    """
    n = len(words)
    lws = [w.lower() for w in words]  # one lower() per word, not three
    _lex_get = lexicon.get
    pos = [_lex_get(lw) or tag(w, lexicon)
           for w, lw in zip(words, lws)]
    _lem_get = lemmas.get
    lemma = [_lem_get(lw, lw) for lw in lws]
    head = [-1] * n
    dep = ["dep"] * n

    root = next((k for k in range(n) if pos[k].startswith("V")), None)

    # chunk NPs
    chunks: list[tuple[int, int, int]] = []  # (start, end_inclusive, head_idx)
    k = 0
    while k < n:
        if pos[k] == "DT" or pos[k] == "JJ" or pos[k].startswith("N"):
            start = k
            while k + 1 < n and (pos[k + 1] == "DT" or pos[k + 1] == "JJ"
                                 or pos[k + 1].startswith("N")):
                k += 1
            end = k
            h = max((j for j in range(start, end + 1)
                     if pos[j].startswith("N")), default=end)
            chunks.append((start, end, h))
            # internal deps
            for j in range(start, end + 1):
                if j == h:
                    continue
                head[j] = h
                if pos[j] == "DT":
                    dep[j] = "det"
                elif pos[j] == "JJ":
                    dep[j] = "amod"
                else:
                    dep[j] = "compound"
        k += 1

    anchor = root if root is not None else (chunks[0][2] if chunks else 0)

    # attach chunk heads
    subj_assigned = False
    dobj_assigned = False
    prev_np_head: int | None = None
    ci = 0
    while ci < len(chunks):
        start, end, h = chunks[ci]
        is_pp = start > 0 and pos[start - 1] == "IN"
        if is_pp:
            attach = prev_np_head if prev_np_head is not None else anchor
            head[start - 1] = h
            dep[start - 1] = "case"
            head[h] = attach
            dep[h] = "nmod"
        elif root is not None and end < root:
            # pre-verb NP: the one adjacent to the verb is the subject
            nxt = chunks[ci + 1] if ci + 1 < len(chunks) else None
            is_last_preverb = nxt is None or nxt[0] > root
            head[h] = root
            if is_last_preverb and not subj_assigned:
                dep[h] = "nsubj"
                subj_assigned = True
            else:
                dep[h] = "dep"
        elif root is not None:
            head[h] = root
            dep[h] = "dobj" if not dobj_assigned else "dep"
            dobj_assigned = True
        else:
            if h != anchor:
                head[h] = anchor
                dep[h] = "dep"
        prev_np_head = h
        ci += 1

    # verbs, adverbs, punctuation, leftovers
    for k2 in range(n):
        if k2 == root:
            head[k2] = -1
            dep[k2] = "ROOT"
        elif pos[k2].startswith("V") and k2 != root:
            head[k2] = root if root is not None else anchor
            dep[k2] = "dep"
        elif pos[k2] == "RB":
            head[k2] = root if root is not None else anchor
            dep[k2] = "advmod"
        elif pos[k2] in (".", ",", ":", "-LRB-", "-RRB-"):
            head[k2] = root if root is not None else anchor
            dep[k2] = "punct"
        elif pos[k2] == "IN" and head[k2] == -1 and k2 != anchor:
            head[k2] = root if root is not None else anchor
            dep[k2] = "dep"
        elif head[k2] == -1 and k2 != root and k2 != anchor:
            head[k2] = anchor
    if root is None and n:
        head[anchor] = -1
        dep[anchor] = "ROOT"

    return list(range(1, n + 1)), list(words), lemma, pos, head, dep


def parse_tokens(words: list[str], lexicon: dict[str, str],
                 lemmas: dict[str, str]) -> list[dict]:
    """Row-oriented view of ``parse_tokens_columns`` (the in-Python
    consumers — SVO, coref, query mapping — walk token dicts)."""
    ii, tt, lm, ps, hd, dp = parse_tokens_columns(words, lexicon, lemmas)
    return [{"i": a, "text": b, "lemma": c, "pos": d, "head": e, "dep": f}
            for a, b, c, d, e, f in zip(ii, tt, lm, ps, hd, dp)]


def parse_document(text: str, lexicon: dict[str, str],
                   lemmas: dict[str, str]) -> list[tuple[int, str, list[dict]]]:
    out = []
    for sid, sent in enumerate(split_sentences(text)):
        words = tokenize(sent)
        if not words:
            continue
        out.append((sid, sent, parse_tokens(words, lexicon, lemmas)))
    return out


_FLAT_TOKENS_SCHEMA = (
    "url string, sent_id int, text string, "
    "ti array<int>, tt array<string>, tl array<string>, "
    "tp array<string>, th array<int>, td array<string>"
)
_TOKEN_COLS = ("ti", "tt", "tl", "tp", "th", "td")


def _sentence_frame(docs, lexicon: dict[str, str],
                    lemmas: dict[str, str]) -> pd.DataFrame:
    """(url, text) pairs → one ``_FLAT_TOKENS_SCHEMA`` row per sentence
    with at least one token: the per-batch kernel of both sentence
    stages."""
    cols: dict[str, list] = {k: [] for k in
                             ("url", "sent_id", "text", *_TOKEN_COLS)}
    for url, text in docs:
        for sid, sent in enumerate(split_sentences(text)):
            words = tokenize(sent)
            if not words:
                continue
            row = (url, sid, sent,
                   *parse_tokens_columns(words, lexicon, lemmas))
            for col, v in zip(cols.values(), row):
                col.append(v)
    return pd.DataFrame(
        {"url": pd.Series(cols["url"], dtype=object),
         "sent_id": pd.Series(cols["sent_id"], dtype="int64"),
         "text": pd.Series(cols["text"], dtype=object),
         # dtype=object on every list column: pandas can coerce lists
         # into an ndarray, which Arrow's NumPyConverter cannot
         # serialize as list<...>
         **{k: pd.Series(cols[k], dtype=object) for k in _TOKEN_COLS}})


def article_texts(pdf: pd.DataFrame, lexset: frozenset):
    """(url, cleaned text) of each document in a (url, html, text)
    batch that has article text: ``text``, else extracted from ``html``."""
    for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"]):
        if text is None:
            text = extract_article_text(html)
        if text is not None:
            yield url, clean_document(text, lexset)


def _zip_tokens(flat):
    from pyspark.sql import functions as F

    return flat.select(
        "url", "sent_id", "text",
        F.arrays_zip(F.col("ti").alias("i"), F.col("tt").alias("text"),
                     F.col("tl").alias("lemma"), F.col("tp").alias("pos"),
                     F.col("th").alias("head"), F.col("td").alias("dep"))
        .alias("tokens"))


def fused_sentences_stage(documents, lexicon: dict[str, str],
                          lemmas: dict[str, str],
                          lang_filter: str | None = "en"):
    """documents(url, warc_ts, html, text, lang) → sentences in ONE
    Arrow pass (html→text → clean → parse fused), for consumers of the
    token table itself (sentence ranking, USP). The triples of a build
    or a drain never go through this table: ``functions.fused`` parses
    and extracts in one pass. The staged ``parse_stage`` pays three
    Python round-trips — html bytes and full document text each cross
    Arrow twice more; fusing removes both extra crossings. Output is
    identical to the staged path (parity-pinned in
    test_parse_and_svo.py)."""
    lexset = frozenset(lexicon)
    src = documents
    if lang_filter:
        src = src.filter(src.lang == lang_filter)
    src = src.select("url", "html", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _sentence_frame(article_texts(pdf, lexset), lexicon, lemmas)

    return _zip_tokens(src.mapInPandas(run, schema=_FLAT_TOKENS_SCHEMA))


def parse_stage(df, lexicon: dict[str, str], lemmas: dict[str, str],
                text_col: str = "clean_text"):
    """(url, …, clean_text) → sentences(url, sent_id, text, tokens).

    One doc → N sentence rows via mapInPandas (Arrow-batched; the
    lexicons ride along in the closure — broadcast-sized, ~1k entries).

    The token structs are NOT serialized as ``list<struct>`` through
    Arrow — per-token Python dicts + nested-struct conversion dominated
    the stage cost (30% of BENCH_r01). The Python side emits six flat
    primitive arrays per sentence (cheap Arrow lists) and the nested
    ``tokens array<struct<...>>`` of SENTENCES_SCHEMA is reassembled
    JVM-side by ``arrays_zip`` — same output schema, ~none of the
    serialization cost."""
    src = df.select("url", text_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL text arrives from Arrow as None or NaN
            yield _sentence_frame(
                ((url, text) for url, text in zip(pdf["url"], pdf[text_col])
                 if text is not None and not isinstance(text, float)),
                lexicon, lemmas)

    return _zip_tokens(src.mapInPandas(run, schema=_FLAT_TOKENS_SCHEMA))
