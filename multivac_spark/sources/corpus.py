"""Deterministic Common-Crawl-style corpus synthesizer.

Generates the input table mandated by BASELINE.json's input_hint:

    documents(url STRING, warc_ts TIMESTAMP, html BINARY,
              text STRING, lang STRING)

plus the ``embeddings(token, vector)`` side table. Pages contain an
``<article>`` (~85%) whose sentences come from the closed grammar in
``vocab.py`` — so each sentence has a known gold dependency parse and
the gold SVO triples are derivable exactly (FIXTURES.md §1). ~15% of
pages lack ``<article>`` and must flow through extraction as NULL text
(reference parse_html → None, src/data/process.py:124-133).

Noise injected between grammar sentences (numeric citations, in-text
citations, URLs, emails, cid marks, hyphen-split words) exercises the
reference document cleaner (src/data/textparsing.py:6-78); every noise
fragment is a self-contained "sentence" that provably yields zero
triples after cleaning, keeping the grammar-derived gold exact.

Generation is per-row seeded (no global RNG), so the gold parse for any
url can be *regenerated* independently — tests and the triple-diff
oracle rely on this instead of materializing gold columns.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

from . import vocab

WARC_EPOCH = datetime(2025, 6, 1, tzinfo=timezone.utc)
N_HOSTS = 100
SEED0 = 0x5EED_42

# sf1.0 == 100k docs; the driver's sf ladder maps through this.
DOCS_PER_SF = 100_000


def n_docs_for_sf(sf: float) -> int:
    return max(1, int(round(DOCS_PER_SF * sf)))


# --------------------------------------------------------------------------
# gold-parse sentence grammar
# --------------------------------------------------------------------------

def _mk_tok(i: int, text: str, lemma: str, pos: str, head: int, dep: str) -> dict:
    # head is the 0-based index of the governor; -1 for ROOT — mirroring the
    # reference's stanford_token(head=governor-1) convention
    # (src/rdf_graph/rdf_parse.py:179-187).
    return {"i": i, "text": text, "lemma": lemma, "pos": pos,
            "head": head, "dep": dep}


def _weighted_draw(rng: np.random.RandomState, cdf: np.ndarray) -> int:
    """Exact replica of ``rng.choice(n, p=w)`` for a scalar draw against
    a precomputed normalized CDF: RandomState.choice builds
    ``cdf = p.cumsum(); cdf /= cdf[-1]`` and then takes
    ``cdf.searchsorted(random_sample(), side='right')`` — one
    ``random_sample`` consumed either way, so the RNG stream, and with
    it every generated document, is bit-identical (pinned by test).
    Caching the CDF removes choice()'s per-call cumsum + validation
    (~40% of document synthesis time under cProfile)."""
    return int(cdf.searchsorted(rng.random_sample(), side="right"))


def _sample_noun(rng: np.random.RandomState) -> tuple[str, str]:
    """Return (surface, lemma=concept). Zipfian over concepts → real skew.
    Samples only unambiguous (NN*-tagged) surface forms so gold parses
    stay exact."""
    concepts = vocab.effective_concepts()
    ci = _weighted_draw(rng, _concept_cdf())
    concept = concepts[ci]
    variants = vocab.effective_noun_variants()[concept]
    # base form 70%, variants split the rest → near-dup mentions exist
    vi = 0 if (rng.random_sample() < 0.7 or len(variants) == 1) \
        else 1 + rng.randint(len(variants) - 1)
    return variants[vi], concept


_CONCEPT_W = None
_VERB_W = None


def _cdf_of(w: np.ndarray) -> np.ndarray:
    cdf = w.cumsum()
    cdf /= cdf[-1]
    return cdf


def _concept_weights() -> np.ndarray:
    global _CONCEPT_W
    if _CONCEPT_W is None:
        _CONCEPT_W = vocab.zipf_weights(len(vocab.effective_concepts()))
    return _CONCEPT_W


def _verb_weights() -> np.ndarray:
    global _VERB_W
    if _VERB_W is None:
        _VERB_W = vocab.zipf_weights(len(vocab.VERB_FORMS))
    return _VERB_W


_CONCEPT_CDF = None
_VERB_CDF = None
_HOST_CDF = None


def _concept_cdf() -> np.ndarray:
    global _CONCEPT_CDF
    if _CONCEPT_CDF is None:
        _CONCEPT_CDF = _cdf_of(_concept_weights())
    return _CONCEPT_CDF


def _verb_cdf() -> np.ndarray:
    global _VERB_CDF
    if _VERB_CDF is None:
        _VERB_CDF = _cdf_of(_verb_weights())
    return _VERB_CDF


def _host_cdf() -> np.ndarray:
    global _HOST_CDF
    if _HOST_CDF is None:
        _HOST_CDF = _cdf_of(_host_weights())
    return _HOST_CDF


def _np_tokens(rng: np.random.RandomState, start_i: int, verb_slot: int,
               dep_for_head: str, allow_pp: bool) -> tuple[list[dict], int]:
    """Emit a noun phrase: Det? Adj{0,2} (Noun_compound)? Noun_head (PP)?

    Dependency shape matches what CoreNLP basicDependencies would emit for
    this fragment (det/amod/compound point at the head noun; the head noun
    bears ``dep_for_head`` toward the verb; a PP noun hangs off the head
    noun with nmod + case on the preposition).
    """
    toks: list[dict] = []
    i = start_i
    head_slots: list[tuple[int, str, str, str]] = []  # (pos_in_list, kind ...)

    pre: list[tuple[str, str, str, str]] = []  # (text, lemma, pos, dep)
    if rng.random_sample() < 0.75:
        d = vocab.DETERMINERS[rng.randint(len(vocab.DETERMINERS))]
        pre.append((d, d, "DT", "det"))
    for _ in range(rng.randint(3)):  # 0..2 adjectives
        a = vocab.effective_adjectives()[rng.randint(len(vocab.effective_adjectives()))]
        pre.append((a, a, "JJ", "amod"))
    compound = None
    if rng.random_sample() < 0.2:
        compound = _sample_noun(rng)
    head_surface, head_lemma = _sample_noun(rng)

    n_pre = len(pre) + (1 if compound else 0)
    head_idx = i + n_pre  # 0-based token index of the head noun
    for text, lemma, pos, dep in pre:
        toks.append(_mk_tok(i, text, lemma, pos, head_idx, dep))
        i += 1
    if compound:
        toks.append(_mk_tok(i, compound[0], compound[1],
                            "NNS" if compound[0].endswith("s") else "NN",
                            head_idx, "compound"))
        i += 1
    toks.append(_mk_tok(i, head_surface, head_lemma,
                        "NNS" if head_surface.endswith("s") else "NN",
                        verb_slot, dep_for_head))
    i += 1

    if allow_pp and rng.random_sample() < 0.3:
        p = vocab.PREPOSITIONS[rng.randint(len(vocab.PREPOSITIONS))]
        pp_det = rng.random_sample() < 0.5
        pp_noun_idx = i + 1 + (1 if pp_det else 0)
        toks.append(_mk_tok(i, p, p, "IN", pp_noun_idx, "case"))
        i += 1
        if pp_det:
            d = vocab.DETERMINERS[rng.randint(len(vocab.DETERMINERS))]
            toks.append(_mk_tok(i, d, d, "DT", pp_noun_idx, "det"))
            i += 1
        pn_surface, pn_lemma = _sample_noun(rng)
        toks.append(_mk_tok(i, pn_surface, pn_lemma,
                            "NNS" if pn_surface.endswith("s") else "NN",
                            head_idx, "nmod"))
        i += 1
    return toks, i


def gen_sentence_tokens(rng: np.random.RandomState) -> list[dict]:
    """One grammar sentence with its gold parse.

    Shape: SubjNP Verb Adv? ObjNP(PP?) '.'   — every token carries
    (i, text, lemma, pos, head, dep); ``i`` is 1-based like the
    reference's stanford_token index (rdf_parse.py:181-187).
    """
    # first pass builds with 0-based list positions, fixing up i afterward
    subj_toks, i = _np_tokens(rng, 0, -100, "nsubj", allow_pp=False)

    verb_idx = i
    lemmas = list(vocab.VERB_FORMS)
    vlemma = lemmas[_weighted_draw(rng, _verb_cdf())]
    sg, pl, past = vocab.VERB_FORMS[vlemma]
    form, pos = (sg, "VBZ") if rng.random_sample() < 0.6 else (past, "VBD")
    toks = list(subj_toks)
    for t in toks:
        if t["head"] == -100:
            t["head"] = verb_idx
    toks.append(_mk_tok(verb_idx, form, vlemma, pos, -1, "ROOT"))
    i += 1

    if rng.random_sample() < 0.25:
        adv = vocab.ADVERBS[rng.randint(len(vocab.ADVERBS))]
        toks.append(_mk_tok(i, adv, adv, "RB", verb_idx, "advmod"))
        i += 1

    obj_toks, i = _np_tokens(rng, i, verb_idx, "dobj", allow_pp=True)
    toks.extend(obj_toks)

    toks.append(_mk_tok(i, ".", ".", ".", verb_idx, "punct"))

    # capitalize sentence-initial word; switch to 1-based indices
    toks[0]["text"] = toks[0]["text"][0].upper() + toks[0]["text"][1:]
    for t in toks:
        t["i"] = t["i"] + 1
        t["head"] = t["head"] + 1 if t["head"] >= 0 else 0
    # head: 1-based governor index, 0 == ROOT (CoreNLP convention); the
    # parser output uses head-1 (0-based, -1 root) like stanford_token.
    for t in toks:
        t["head"] = t["head"] - 1
    return toks


def render_sentence(toks: list[dict]) -> str:
    words = [t["text"] for t in toks if t["pos"] != "."]
    return " ".join(words) + "."


# --------------------------------------------------------------------------
# noise fragments (each self-contained; zero triples after cleaning)
# --------------------------------------------------------------------------

def _noise_fragment(rng: np.random.RandomState) -> str:
    k = rng.randint(6)
    if k == 0:
        n = 1 + rng.randint(3)
        nums = ", ".join(str(1 + rng.randint(99)) for _ in range(n))
        return f"See [{nums}]."
    if k == 1:
        return "(Smith et al., 2019)."
    if k == 2:
        return f"Contact author{rng.randint(99)}@example.org."
    if k == 3:
        return "(cid:%d) ( ) (e.g.; )." % rng.randint(50)
    if k == 4:
        return "Click here to download the supplementary dataset."
    return "(see )."


def _hyphen_split(sentence: str, rng: np.random.RandomState) -> str:
    """Split one long word as a line-break hyphenation ('mem- brane');
    the reference cleaner merges it back (textparsing.py:53-68)."""
    words = sentence.split()
    cands = [w for w in words if len(w) > 7 and w.isalpha()]
    if not cands:
        return sentence
    w = cands[rng.randint(len(cands))]
    cut = len(w) // 2
    return sentence.replace(w, f"{w[:cut]}- {w[cut:]}", 1)


# --------------------------------------------------------------------------
# document + page assembly
# --------------------------------------------------------------------------

_BOILER_NAV = ("Home &amp; About | Archive | Subscribe | "
               "Terms of service apply.")
_BOILER_FOOT = "Copyright 2025 Example Media. All rights reserved."


def _title_np(rng: np.random.RandomState) -> str:
    adj = vocab.effective_adjectives()[rng.randint(len(vocab.effective_adjectives()))]
    noun, _ = _sample_noun(rng)
    return f"On the {adj} {noun}."


def doc_rng(doc_index: int) -> np.random.RandomState:
    return np.random.RandomState((SEED0 + 0x9E3779B1 * doc_index) % (2**32))


def gen_document(doc_index: int, with_gold: bool = False):
    """Generate one page. Returns a row dict; with_gold=True also returns
    the list of gold token-lists (grammar sentences only, pre-noise)."""
    rng = doc_rng(doc_index)
    host = 1 + _weighted_draw(rng, _host_cdf())
    url = f"https://host-{host:03d}.example/article/{doc_index:09d}"
    ts = WARC_EPOCH + timedelta(seconds=int((doc_index * 7919) % 2_592_000))
    r = rng.random_sample()
    lang = "en" if r < 0.96 else ("de" if r < 0.98 else "fr")
    has_article = rng.random_sample() < 0.85

    gold: list[list[dict]] = []
    if not has_article:
        body = (f"<html><head><title>page {doc_index}</title></head><body>\n"
                f"<div class=\"promo\">{_BOILER_NAV}</div>\n"
                f"<p>No article content here.</p>\n"
                f"<footer>{_BOILER_FOOT}</footer>\n</body></html>")
        row = {"url": url, "warc_ts": ts, "html": body.encode("utf-8"),
               "text": None, "lang": lang}
        return (row, gold) if with_gold else row

    n_sent = 3 + rng.randint(38)  # 3..40
    pieces: list[str] = []
    title = _title_np(rng)
    for _ in range(n_sent):
        toks = gen_sentence_tokens(rng)
        gold.append(toks)
        sent = render_sentence(toks)
        if rng.random_sample() < 0.10:
            sent = _hyphen_split(sent, rng)
        pieces.append(sent)
        if rng.random_sample() < 0.20:
            pieces.append(_noise_fragment(rng))

    paras: list[str] = []
    k = 0
    while k < len(pieces):
        step = 3 + rng.randint(3)
        paras.append("<p>" + " ".join(pieces[k:k + step]) + "</p>")
        k += step
    html = (f"<html><head><title>doc {doc_index}</title></head><body>\n"
            f"<nav>{_BOILER_NAV}</nav>\n"
            f"<article>\n<h1>{title}</h1>\n" + "\n".join(paras) +
            f"\n</article>\n<footer>{_BOILER_FOOT}</footer>\n</body></html>")
    row = {"url": url, "warc_ts": ts, "html": html.encode("utf-8"),
           "text": None, "lang": lang}
    return (row, gold) if with_gold else row


_HOST_W = None


def _host_weights() -> np.ndarray:
    global _HOST_W
    if _HOST_W is None:
        _HOST_W = vocab.zipf_weights(N_HOSTS, s=1.0)
    return _HOST_W


# --------------------------------------------------------------------------
# Spark materialization
# --------------------------------------------------------------------------

DOCUMENTS_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                    "text string, lang string")

PDF_DOCUMENTS_SCHEMA = ("url string, warc_ts timestamp, pdf binary, "
                        "lang string")


def gen_pdf_document(doc_index: int) -> dict:
    """The arXiv-shaped sibling of ``gen_document``: the SAME seeded
    article content rendered as a real PDF (sources/pdftext.make_pdf,
    Flate-compressed) with a title/Abstract front page and an
    Acknowledgments trailer — so the reference's parse_pdf slicing
    chain (process.py:142-148) is exercised by every document. Pages
    carry ~120 words each. No-article pages become corrupt PDF bytes
    (parse_pdf → None, the PDF analog of the NULL-text invariant)."""
    from ..functions.html_text import extract_article_text
    from .pdftext import make_pdf

    row, pages = _pdf_pages(doc_index)
    if pages is None:
        pdf = b"%PDF-1.4\n% corrupt scan, no text layer\n"
    else:
        pdf = make_pdf(pages)
    return {"url": row["url"], "warc_ts": row["warc_ts"], "pdf": pdf,
            "lang": row["lang"]}


def _pdf_pages(doc_index: int) -> tuple[dict, list[str] | None]:
    """The generator's page assembly, shared by the PDF renderer and
    the ground-truth text path (pages=None for corrupt scans)."""
    from ..functions.html_text import extract_article_text

    row = gen_document(doc_index)
    text = extract_article_text(row["html"])
    if text is None:
        return row, None
    words = text.split()
    pages = [" ".join(words[k:k + 120])
             for k in range(0, len(words), 120)] or [""]
    pages[0] = (f"arXiv preprint {row['url']} Abstract " + pages[0])
    pages[-1] += " Acknowledgments We thank the synthetic reviewers."
    return row, pages


def pdf_ground_truth_text(doc_index: int) -> str | None:
    """The text ``gen_pdf_document``'s PDF MUST decode to — derived
    from the generator's own page assembly plus the reference slicing
    chain (process.py:142-148), NEVER from the PDF extraction kernel.
    This is the independent oracle path for the ``kg_pipeline_pdf``
    golden digest: a kernel-frozen golden can pin a decode bug (the
    round-3 stream-framing lesson); a generator-derived golden cannot."""
    from .pdftext import postprocess_pdf_text

    _row, pages = _pdf_pages(doc_index)
    if pages is None:
        return None
    return postprocess_pdf_text(pages)


def pdf_ground_truth_documents_df(spark, n_docs: int,
                                  partitions: int | None = None):
    """documents-shaped frame carrying the GROUND-TRUTH text for each
    synthetic PDF (same rows/schema as pdf_text_stage's output on
    pdf_documents_df, minus the PDF decode step)."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                row, pages = _pdf_pages(int(i))
                rows.append({"url": row["url"], "warc_ts": row["warc_ts"],
                             "html": None,
                             "text": pdf_ground_truth_text(int(i)),
                             "lang": row["lang"]})
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return (spark.range(0, n_docs, numPartitions=parts)
            .mapInPandas(gen, schema=DOCUMENTS_SCHEMA))


def pdf_documents_df(spark, n_docs: int, partitions: int | None = None):
    """Distributed PDF-corpus generation (same shape as documents_df)."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches):
        for pdf in batches:
            rows = [gen_pdf_document(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return (spark.range(0, n_docs, numPartitions=parts)
            .mapInPandas(gen, schema=PDF_DOCUMENTS_SCHEMA))


def documents_df(spark, n_docs: int, partitions: int | None = None,
                 start: int = 0):
    """Distributed generation: spark.range → mapInPandas, one seeded row
    per index. No driver-side loop, no collect — generation itself
    scales. ``start`` shifts the index range (disjoint delta batches
    for incremental ingest: ``documents_df(s, n, start=m)`` generates
    docs m..m+n-1)."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches):
        for pdf in batches:
            rows = [gen_document(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return (spark.range(start, start + n_docs, numPartitions=parts)
            .mapInPandas(gen, schema=DOCUMENTS_SCHEMA))


def embeddings_df(spark):
    rows = vocab.embedding_rows()
    pdf = pd.DataFrame(rows, columns=["token", "vector"])
    return spark.createDataFrame(pdf, schema="token string, vector array<float>")
