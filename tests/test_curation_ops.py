"""Round-4 curation operators: PII scrubbing, boilerplate line
removal, benchmark decontamination, deterministic mixture sampling
(operators/textops.py). Each is a standard web-scale pre-training
hygiene pass (C4 / RefinedWeb / test-set-decontamination shape)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from multivac_spark.operators import textops


def test_scrub_pii_and_count(spark):
    rows = [
        (1, "mail a.b+c@ex-y.co.uk or 192.168.1.2 ring +1 (555) 010-1234"),
        (2, "no pii here at all"),
        (3, "double x@y.io and z@w.org plus 10.0.0.1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["s"], r["n"]) for r in df.select(
        "doc_id", textops.scrub_pii(F.col("text")).alias("s"),
        textops.pii_count(F.col("text")).alias("n")).collect()}
    assert got[1] == ("mail <EMAIL> or <IP> ring <PHONE>", 3)
    assert got[2] == ("no pii here at all", 0)
    assert got[3] == ("double <EMAIL> and <EMAIL> plus <IP>", 3)


def test_scrub_pii_ip_not_eaten_by_phone(spark):
    """Pattern ORDER is load-bearing: the phone pattern would match a
    dotted IP if IPs weren't scrubbed first."""
    df = spark.createDataFrame([(1, "+192.168.250.100 cluster")],
                               "doc_id long, text string")
    s = df.select(textops.scrub_pii(F.col("text")).alias("s")) \
        .collect()[0]["s"]
    assert "<IP>" in s and "<PHONE>" not in s


def test_remove_common_lines(spark):
    """Boilerplate (≥ min_docs docs) goes; unique lines stay in
    original order."""
    rows = [(i, f"subscribe now | body text {i} | ref {i} | footer")
            for i in range(6)]
    rows.append((99, "subscribe now | unique solo"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_lines_kept"])
           for r in textops.remove_common_lines(df, min_docs=5,
                                                sep=" | ").collect()}
    for i in range(6):
        assert got[i] == (f"body text {i} | ref {i}", 2)
    assert got[99] == ("unique solo", 1)


def test_decontaminate_drops_ngram_overlap(spark):
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        "bid long, text string")
    docs = spark.createDataFrame(
        [(1, "prefix the quick brown fox jumps over the lazy dog "
             "tonight suffix"),                       # contains the 8-gram
         (2, "the quick brown fox sat still"),        # only shorter overlap
         (3, "completely different content words")],
        "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  textops.decontaminate(docs, bench, n=8).collect())
    assert kept == [2, 3]


def test_mixture_sample_deterministic_and_rate_shaped(spark):
    df = spark.createDataFrame(
        [(i, "srcA" if i % 2 == 0 else "srcB") for i in range(2000)],
        "doc_id long, source string")
    rates = {"srcA": 0.8, "srcB": 0.1}
    kept = textops.mixture_sample(df, rates).collect()
    by_src = {"srcA": 0, "srcB": 0}
    for r in kept:
        by_src[r["source"]] += 1
        # exact membership criterion replayable from first principles
        u = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8],
                16) / 2 ** 32
        assert u < rates[r["source"]]
    # 1000 draws per source; binomial 3σ bounds
    assert 740 <= by_src["srcA"] <= 860, by_src
    assert 70 <= by_src["srcB"] <= 130, by_src
    # determinism: a second run returns the identical set
    again = textops.mixture_sample(df, rates).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in kept}
    # unknown source with default_rate=0 drops everything
    extra = spark.createDataFrame([(5, "srcC")], "doc_id long, source string")
    assert textops.mixture_sample(extra, rates).count() == 0


def test_remove_repeated_spans_cross_doc(spark):
    """The shared 6-token block survives only in its canonical first
    occurrence (min doc_id); unique content is untouched; short docs
    bypass the gram stage."""
    from multivac_spark.operators.dedup import remove_repeated_spans

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two three {shared} four five"),
        (2, f"{shared} six seven eight nine ten"),
        (3, "totally unique text with nothing repeated anywhere here"),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_tokens_removed"])
           for r in remove_repeated_spans(df, span=6).collect()}
    assert got[1] == (f"one two three {shared} four five", 0)  # canonical
    assert got[2] == ("six seven eight nine ten", 6)
    assert got[3][1] == 0
    assert got[4] == ("tiny doc", 0)


def test_remove_repeated_spans_within_doc(spark):
    """Within-document repeats dedup too (the second copy goes)."""
    from multivac_spark.operators.dedup import remove_repeated_spans

    block = "p q r s"
    df = spark.createDataFrame(
        [(7, f"{block} mid1 mid2 {block} tail")],
        "doc_id long, text string")
    r = remove_repeated_spans(df, span=4).collect()[0]
    assert r["text"] == f"{block} mid1 mid2 tail"
    assert r["n_tokens_removed"] == 4


def test_remove_repeated_spans_overlapping_merge(spark):
    """Overlapping duplicate windows merge into one covered span —
    a 7-token shared block with span=6 yields two overlapping grams
    whose union removes exactly the 7 tokens."""
    from multivac_spark.operators.dedup import remove_repeated_spans

    shared = "a1 a2 a3 a4 a5 a6 a7"
    df = spark.createDataFrame(
        [(1, f"{shared} first unique words here"),
         (2, f"other start {shared} more unique")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_tokens_removed"])
           for r in remove_repeated_spans(df, span=6).collect()}
    assert got[1] == (f"{shared} first unique words here", 0)
    assert got[2] == ("other start more unique", 7)


def test_remove_repeated_spans_fully_covered_doc(spark):
    """A doc whose EVERY token is inside a removed span must still
    emit (id, "", n) — not silently vanish from the corpus.  Doc 2 is
    exactly the 5-token block that doc 1 already contains (doc 1 is
    canonical by min doc_id), so every position of doc 2 is covered."""
    from multivac_spark.operators.dedup import remove_repeated_spans

    block = "b1 b2 b3 b4 b5"
    df = spark.createDataFrame(
        [(1, f"{block} trailing unique words"),
         (2, block)],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_tokens_removed"])
           for r in remove_repeated_spans(df, span=5).collect()}
    assert set(got) == {1, 2}
    assert got[1] == (f"{block} trailing unique words", 0)
    assert got[2] == ("", 5)


def test_bpe_token_count_examples(spark):
    """BPE pre-tokenizer split: contractions split off, punctuation
    runs count separately, whitespace folds into the next token."""
    cases = {
        "don't stop me-now 2x fast": 9,
        "hello   world": 3,
        "a,b..c 12.5%": 9,
        "naïve café ΩΩ 42": 4,
    }
    df = spark.createDataFrame([(t,) for t in cases],
                               "text string")
    got = {r["text"]: r["n"] for r in df.select(
        "text",
        textops.bpe_token_count(F.col("text")).alias("n")).collect()}
    assert got == cases


def test_simhash_dup_pairs_exact_vs_brute_force(spark):
    """Pigeonhole banding is EXACT for Hamming <= max_hamming: the
    banded pair set must equal brute-force all-pairs Hamming over the
    same signatures (a pair within the radius agrees on at least one
    of max_hamming+1 bands)."""
    from itertools import combinations

    from multivac_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [(i, base + f" variant {i % 7}") for i in range(40)]
    # plant exact dups and a one-token edit
    rows += [(100, rows[3][1]), (101, rows[3][1].replace("fox", "cat"))]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = sorted(tuple(r) for r in dedup.simhash_dup_pairs(
        df, n_bits=32, max_hamming=3).collect())

    sigs = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", dedup.simhash_bits(F.col("text"), 32).alias("s"))
        .collect()}
    want = []
    for a, b in combinations(sorted(sigs), 2):
        h = sum(x != y for x, y in zip(sigs[a], sigs[b]))
        if h <= 3:
            want.append((a, b, h))
    assert got == sorted(want)
    assert (3, 100, 0) in got            # exact dup found at distance 0
    assert any(p[:2] == (100, 101) or p[:2] == (3, 101)
               for p in got)             # one-token edit within radius


def test_simhash_dup_pairs_rejects_indivisible_bands():
    import pytest

    from multivac_spark.operators import dedup

    with pytest.raises(ValueError):
        dedup.simhash_dup_pairs(None, n_bits=16, max_hamming=2)


def test_text_signals_match_single_signal_operators(spark):
    """text_signals computes its seven columns with shared tokenizations;
    each must equal its single-signal operator row by row."""
    rows = [
        (1, "The cat and the dog sat with this mat in 2024 ."),
        (2, "Der Hund und die Katze mit 3 Beinen"),
        (3, "le chat et la souris avec 42 fromages"),
        (4, "el perro y los gatos con 7 huesos"),
        (5, ""),
        (6, "   "),
        (7, "v2 x86 100% don't   stop;  THE AND WITH"),
        (8, "und the und the"),
        (9, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    col = F.col("text")
    single = {r["doc_id"]: r.asDict() for r in df.select(
        "doc_id",
        textops.token_count(col).alias("n_tokens"),
        textops.bpe_token_count(col).alias("n_bpe"),
        textops.char_sum(col).alias("n_chars"),
        textops.stopword_count(col).alias("n_stopwords"),
        textops.digit_token_count(col).alias("n_digit_tokens"),
        textops.langid(col).alias("lang_pred"),
        textops.fingerprint(col).alias("fp")).collect()}
    fused = {r["doc_id"]: r.asDict()
             for r in textops.text_signals(df).collect()}
    assert fused == single
    assert {single[i]["lang_pred"] for i in (1, 2, 3, 4)} \
        == {"en", "de", "fr", "es"}
    assert single[1]["n_digit_tokens"] == 1 and single[1]["n_stopwords"] > 0
