"""Trained BPE sub-word tokenization — the token-budget operator
real training-data pipelines price corpora with (pre-tokenizer splits
undercount; a trained merge table is what GPT-2/LLaMA tokenizers
actually apply).

No reference counterpart (the reference counts whitespace tokens,
doc/phase_two_developments.md:110-112) — this is an LLM-pipeline
operator in the round-4 curation-family shape:

* **Training** is classic BPE over the word-TYPE histogram: one
  distributed pass builds (word, count); merge learning then needs
  only that bounded table (Heaps-law vocabulary; cap with
  ``max_vocab`` at web scale — the reference's top-50k-dictionary
  posture). Two bit-identical trainers are provided: a driver-local
  loop over the collected histogram (default — the histogram is
  dictionary-bounded by design) and a fully distributed variant
  (one pair-count agg per merge step, the ``train_bigram_lm``
  posture) pinned equal by pytest.
* **Application** never runs per-document BPE: the final per-WORD
  segmentation is a bounded table, so per-doc subword counts are a
  broadcast join word→n_units summed per doc. OOV words (beyond
  ``max_vocab``, or containing the separator char) fall back to
  character count.
* **Cross-engine exactness**: a word's segmentation is carried as a
  separator-anchored string ``··u1··u2··…··`` and one merge step is a
  single literal ``replace('·a··b·' → '·ab·')``. Literal replace is
  left-to-right non-overlapping in Spark, DuckDB AND Python
  ``str.replace`` (greedy-leftmost — exactly BPE's occurrence rule,
  including the ``a a a`` overlap case), and because every unit a
  merge consumes was produced by an earlier merge, applying merges in
  rank order one pass each reproduces standard BPE application. The
  DuckDB oracle therefore replays the ENTIRE operator — histogram,
  every merge-learning step, application, per-doc counts — in SQL
  with no frozen values.

Tie-breaking is deterministic everywhere: max count, then
lexicographically smallest (a, b) (binary/code-point order in all
three engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..session import stage
from .dedup import bound
from .textops import BPE_SPLIT_PATTERN

#: unit separator for the segmentation encoding; words containing it
#: are excluded from the vocabulary (char-count fallback applies)
SEP = "·"
_SS = SEP + SEP


def pretokens(col: Column) -> Column:
    """BPE pre-tokenizer pieces of a text column (GPT-2-style split,
    same regex as ``textops.bpe_token_count``)."""
    return F.regexp_extract_all(col, F.lit(BPE_SPLIT_PATTERN), 0)


def word_histogram(docs: DataFrame, text_col: str = "text",
                   max_vocab: int | None = None) -> DataFrame:
    """(word, cnt) over pre-tokenizer pieces — the ONE corpus-wide
    pass training needs. ``max_vocab`` keeps the table bounded at web
    scale (top types by count, ties broken by word for determinism)."""
    w = (docs.select(F.explode(pretokens(F.col(text_col))).alias("word"))
         .filter(~F.col("word").contains(SEP))
         .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    if max_vocab is not None:
        w = (w.orderBy(F.desc("cnt"), "word").limit(max_vocab))
    return w


def _seg_init(word: Column) -> Column:
    """word → '··c1··c2··…··' (single chars, separator-anchored)."""
    return F.concat(
        F.lit(_SS),
        F.array_join(
            F.transform(F.sequence(F.lit(1), F.char_length(word)),
                        lambda i: F.substring(word, i, 1)),
            _SS),
        F.lit(_SS))


def _units(s: Column) -> Column:
    return F.filter(F.split(s, _SS), lambda x: x != "")


def _merge_pat(a: str, b: str) -> tuple[str, str]:
    return SEP + a + _SS + b + SEP, SEP + a + b + SEP


def train_bpe_local(word_counts: list[tuple[str, int]],
                    n_merges: int) -> list[tuple[str, str]]:
    """Driver-local merge learning over the (bounded) word-type
    histogram — identical arithmetic to the distributed variant
    (pytest-pinned) and to the DuckDB oracle replay."""
    segs = [(_SS + _SS.join(w) + _SS, c) for w, c in word_counts]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for s, c in segs:
            u = [x for x in s.split(_SS) if x]
            for i in range(len(u) - 1):
                p = (u[i], u[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        merges.append(best)
        pat, rep = _merge_pat(*best)
        segs = [(s.replace(pat, rep), c) for s, c in segs]
    return merges


def train_bpe_distributed(word_counts: DataFrame,
                          n_merges: int) -> list[tuple[str, str]]:
    """Distributed merge learning: one pair-count aggregation per
    merge step over the word-type table (map-side combinable; only
    the single best pair ever reaches the driver). The scale path
    when even the type histogram is too wide to collect."""
    seg = stage(word_counts
                .select("word", "cnt", _seg_init(F.col("word")).alias("s")))
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = (seg
                 .select("cnt", _units(F.col("s")).alias("_u"))
                 .filter(F.size("_u") >= 2)
                 .select("cnt", F.explode(bound(
                     F.col("_u"), lambda u: F.transform(
                         F.sequence(F.lit(1), F.size(u) - 1),
                         lambda i: F.struct(
                             F.element_at(u, i).alias("a"),
                             F.element_at(u, i + 1).alias("b")))))
                     .alias("_p"))
                 .groupBy("_p.a", "_p.b")
                 .agg(F.sum("cnt").alias("_c")))
        best = pairs.orderBy(F.desc("_c"), "a", "b").limit(1).collect()
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        pat, rep = _merge_pat(a, b)
        seg = stage(seg.withColumn("s", F.replace(F.col("s"), F.lit(pat),
                                                  F.lit(rep))))
    return merges


def apply_merges(word_counts: DataFrame,
                 merges: list[tuple[str, str]]) -> DataFrame:
    """word-type table → (word, n_units) under the trained merges —
    one chained-replace projection, no shuffle."""
    s = _seg_init(F.col("word"))
    for a, b in merges:
        pat, rep = _merge_pat(a, b)
        s = F.replace(s, F.lit(pat), F.lit(rep))
    return word_counts.select(
        "word", F.size(_units(s)).cast("long").alias("n_units"))


def subword_token_counts(docs: DataFrame, merges: list[tuple[str, str]],
                         word_counts: DataFrame,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Per-document subword budget under a trained merge table:
    (id, n_words, n_subwords). The per-word unit counts are a bounded
    table broadcast onto the exploded doc→word stream — per-document
    BPE never runs; OOV words cost their character length."""
    wordtab = apply_merges(word_counts, merges)
    # explode_outer keeps zero-word documents as a single null-word
    # row, so ONE scan + ONE shuffle (the per-doc agg) covers every
    # document — the explode+restore-join alternative scans the table
    # twice and sort-merge-joins on id (plan-audited in PLANS.md).
    # count("word") skips the null row; the null row's sum term is
    # null (char_length(null)) and is likewise skipped.
    doc_words = docs.select(
        F.col(id_col),
        F.explode_outer(pretokens(F.col(text_col))).alias("word"))
    return (doc_words
            .join(F.broadcast(wordtab), "word", "left")
            .groupBy(id_col)
            .agg(F.count("word").cast("long").alias("n_words"),
                 F.coalesce(
                     F.sum(F.coalesce(F.col("n_units"),
                                      F.char_length("word")
                                      .cast("long"))),
                     F.lit(0)).cast("long").alias("n_subwords")))
