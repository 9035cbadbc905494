"""Deterministic multi-sieve coreference resolution (flag-gated, off
by default).

Reference behavior (src/rdf_graph/rdf_extract.py:249-429
``StanfordCoreferenceResolution``): CoreNLP dcoref clusters mentions,
then each cluster's *representative* mention text is spliced over
every non-representative mention span (capitalized when the span
starts the sentence), sentence-by-sentence sorted by startIndex, and
the document is detokenized and re-joined. The reference keeps this
optional and off by default (coref_opt=False, rdf_graph.py:24).

The rebuild replaces the CoreNLP dcoref *clustering* (an external JVM
service — a process boundary that cannot ride along a 10^12-doc Spark
job) with a deterministic multi-sieve pass in the style of the public
Stanford sieve algorithm (Lee et al. 2011, "Stanford's Multi-Pass
Sieve Coreference Resolution System"):

  1. exact-match sieve — identical (lowercased) non-pronoun NPs merge;
  2. head-match sieve — same head lemma and one mention's content-word
     set contains the other's (``the genome`` ~ ``the viral genome``);
  3. pronoun sieve — each third-person pronoun attaches to the most
     salient compatible antecedent (same sentence first, then up to
     two sentences back; nsubj > dobj > other within a sentence;
     plural pronouns require a plural-looking head).

The *replacement* half is splice-over-span with sentence-start
capitalization, exactly the reference's ``replace_coreferences`` loop
shape. Representative = earliest non-pronoun mention in the cluster
(dcoref's representative is the first mention in document order).
"""

from __future__ import annotations

import re

from .parse import parse_tokens, split_sentences, tokenize

SINGULAR_PRONOUNS = {"it", "this", "he", "she"}
PLURAL_PRONOUNS = {"they", "these", "those"}
PRONOUNS = SINGULAR_PRONOUNS | PLURAL_PRONOUNS

_STOP_MODIFIERS = {"the", "a", "an"}

# closed-class words the corpus lexicon may not carry (the tagger's
# closed-world default is NN, which would otherwise absorb them into
# NP chunks); mentions are trimmed of these at the edges and they can
# never be a mention head
_FUNC_WORDS = {
    "on", "in", "of", "with", "by", "from", "at", "to", "for", "as",
    "into", "onto", "over", "under", "about", "after", "before",
    "between", "during", "within", "through", "across", "and", "or",
    "but", "nor", "so", "yet", "than", "that", "which", "while",
    "where", "when", "if", "because", "although", "since", "until",
    "also", "thus", "hence", "however", "therefore", "moreover",
}
_DETOK = re.compile(r"\s+([.,:;!?%)\]])")
_DETOK_OPEN = re.compile(r"([(\[])\s+")


class _Mention:
    __slots__ = ("sent_i", "start", "end", "text_tokens", "head_lemma",
                 "is_pronoun", "plural", "order")

    def __init__(self, sent_i, start, end, text_tokens, head_lemma,
                 is_pronoun, plural, order):
        self.sent_i = sent_i
        self.start = start            # token index, inclusive
        self.end = end                # token index, exclusive
        self.text_tokens = text_tokens
        self.head_lemma = head_lemma
        self.is_pronoun = is_pronoun
        self.plural = plural
        self.order = order            # document order

    @property
    def content_set(self) -> frozenset:
        return frozenset(t.lower() for t in self.text_tokens
                         if t.lower() not in _STOP_MODIFIERS)

    @property
    def text_lower(self) -> str:
        return " ".join(t.lower() for t in self.text_tokens)


def _detect_mentions(sent_i: int, toks: list[dict],
                     order0: int) -> list[_Mention]:
    """NP chunks (contiguous DT/JJ/N* runs, head = last N*) + standalone
    third-person pronouns."""
    mentions: list[_Mention] = []
    n = len(toks)
    k = 0
    order = order0
    while k < n:
        w = toks[k]["text"]
        pos = toks[k]["pos"]
        if w.lower() in PRONOUNS and not (
                k + 1 < n and (toks[k + 1]["pos"].startswith("N")
                               or toks[k + 1]["pos"] == "JJ")):
            # standalone pronoun (not a determiner of a following NP)
            mentions.append(_Mention(
                sent_i, k, k + 1, [w], w.lower(), True,
                w.lower() in PLURAL_PRONOUNS, order))
            order += 1
            k += 1
            continue
        if pos == "DT" or pos == "JJ" or pos.startswith("N"):
            start = k
            while k + 1 < n and (toks[k + 1]["pos"] == "DT"
                                 or toks[k + 1]["pos"] == "JJ"
                                 or toks[k + 1]["pos"].startswith("N")):
                k += 1
            end = k
            # trim function words misread as nouns at the chunk edges
            while start <= end and toks[start]["text"].lower() in _FUNC_WORDS:
                start += 1
            while end >= start and toks[end]["text"].lower() in _FUNC_WORDS:
                end -= 1
            if start > end:
                k += 1
                continue
            heads = [j for j in range(start, end + 1)
                     if toks[j]["pos"].startswith("N")
                     and toks[j]["text"].lower() not in _FUNC_WORDS]
            if heads and not all(toks[j]["text"].lower() in PRONOUNS
                                 for j in range(start, end + 1)):
                h = heads[-1]
                head_txt = toks[h]["text"].lower()
                mentions.append(_Mention(
                    sent_i, start, end + 1,
                    [toks[j]["text"] for j in range(start, end + 1)],
                    toks[h]["lemma"], False,
                    head_txt.endswith("s") and not head_txt.endswith("ss"),
                    order))
                order += 1
        k += 1
    return mentions


def _salience(m: _Mention, toks: list[dict]) -> int:
    """nsubj(0) > dobj(1) > other(2) for the chunk head token."""
    for j in range(m.start, m.end):
        d = toks[j]["dep"]
        if d == "nsubj":
            return 0
        if d == "dobj":
            return 1
    return 2


def _cluster(mentions: list[_Mention],
             sents_toks: list[list[dict]]) -> list[int]:
    """Multi-sieve clustering → parent array (union-find)."""
    parent = list(range(len(mentions)))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            # earliest mention becomes the root (representative anchor)
            lo, hi = ((ra, rb) if mentions[ra].order < mentions[rb].order
                      else (rb, ra))
            parent[hi] = lo

    # sieve 1: exact match (non-pronouns)
    by_text: dict[str, int] = {}
    for i, m in enumerate(mentions):
        if m.is_pronoun:
            continue
        key = m.text_lower
        if key in by_text:
            union(by_text[key], i)
        else:
            by_text[key] = i

    # sieve 2: head-lemma match + content containment
    by_head: dict[str, list[int]] = {}
    for i, m in enumerate(mentions):
        if not m.is_pronoun:
            by_head.setdefault(m.head_lemma, []).append(i)
    for _, idxs in by_head.items():
        for a_pos in range(1, len(idxs)):
            i = idxs[a_pos]
            mi = mentions[i]
            for j in idxs[:a_pos]:
                mj = mentions[j]
                if (mi.content_set <= mj.content_set
                        or mj.content_set <= mi.content_set):
                    union(j, i)
                    break

    # sieve 3: pronouns → most salient compatible antecedent
    for i, m in enumerate(mentions):
        if not m.is_pronoun:
            continue
        candidates = []
        for j, c in enumerate(mentions):
            if c.is_pronoun or c.order >= m.order:
                continue
            dist = m.sent_i - c.sent_i
            if dist < 0 or dist > 2:
                continue
            if dist == 0 and c.end > m.start:
                continue
            # binding constraint: a pronoun cannot corefer with a
            # co-argument of its own clause — skip the same sentence's
            # subject/object chunks (our grammar is single-clause)
            if dist == 0 and _salience(c, sents_toks[c.sent_i]) < 2:
                continue
            if m.plural and not c.plural:
                continue
            sal = _salience(c, sents_toks[c.sent_i])
            candidates.append((dist, sal, -c.order, j))
        if candidates:
            union(min(candidates)[3], i)

    return [find(i) for i in range(len(mentions))]


def resolve_document(text: str, lexicon: dict[str, str],
                     lemmas: dict[str, str]) -> str:
    """Document text → text with every non-representative coreferent
    mention replaced by its cluster's representative (earliest
    non-pronoun mention), splice-over-span with sentence-start
    capitalization (rdf_extract.py:366-429 semantics)."""
    sents = split_sentences(text)
    if not sents:
        return text
    sent_words = [tokenize(s) for s in sents]
    sents_toks = [parse_tokens(w, lexicon, lemmas) for w in sent_words]

    mentions: list[_Mention] = []
    for si, toks in enumerate(sents_toks):
        mentions.extend(_detect_mentions(si, toks, len(mentions)))
    if not mentions:
        return text

    roots = _cluster(mentions, sents_toks)

    # representative per cluster = earliest non-pronoun mention
    rep: dict[int, _Mention] = {}
    members: dict[int, list[int]] = {}
    for i, r in enumerate(roots):
        members.setdefault(r, []).append(i)
    for r, idxs in members.items():
        non_pron = [mentions[i] for i in idxs if not mentions[i].is_pronoun]
        if len(idxs) > 1 and non_pron:
            rep[r] = min(non_pron, key=lambda m: m.order)

    # per-sentence replacement plan: (start, end, replacement_tokens)
    plans: dict[int, list[tuple[int, int, list[str]]]] = {}
    for i, m in enumerate(mentions):
        r = roots[i]
        if r not in rep:
            continue
        rm = rep[r]
        if m.order == rm.order:
            continue
        if not m.is_pronoun and m.text_lower == rm.text_lower:
            continue  # case-identical splice would be a no-op
        plans.setdefault(m.sent_i, []).append(
            (m.start, m.end, list(rm.text_tokens)))

    out_sents: list[str] = []
    for si, words in enumerate(sent_words):
        if si not in plans:
            out_sents.append(sents[si])
            continue
        new_tokens: list[str] = []
        last_end = 0
        for start, end, rep_toks in sorted(plans[si]):
            if start < last_end:
                continue  # overlapping mention already replaced
            new_tokens.extend(words[last_end:start])
            spliced = list(rep_toks)
            if start == 0 and spliced:
                spliced[0] = spliced[0][0].upper() + spliced[0][1:]
            new_tokens.extend(spliced)
            last_end = end
        new_tokens.extend(words[last_end:])
        sent = " ".join(new_tokens)
        sent = _DETOK.sub(r"\1", sent)
        sent = _DETOK_OPEN.sub(r"\1", sent)
        out_sents.append(sent)
    return " ".join(out_sents)


def resolve_pronouns(text: str, lexicon: dict[str, str],
                     lemmas: dict[str, str]) -> str:
    """Back-compat name: full multi-sieve resolution."""
    return resolve_document(text, lexicon, lemmas)

