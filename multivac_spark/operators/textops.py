"""Text-analysis operators for large-scale corpus pipelines.

First-class components alongside the KG pipeline: language-ID (marker
heuristic), quality scoring, token counting, document fingerprinting.
All are pure Column expressions (whole-stage codegen, no Python), and
each has an exact ANSI-SQL twin used as the DuckDB oracle in
``__spark_entry__.py`` — integer-valued outputs wherever possible so
the cross-engine value-hash comparison is float-free.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..session import stage

STOPWORDS = ["the", "a", "an", "of", "in", "and", "to", "is", "with",
             "this", "each", "every"]

# tiny closed marker sets for the language-ID heuristic (n-gram/marker
# heuristic; deterministic and SQL-twinnable)
LANG_MARKERS = {
    "en": ["the", "and", "with", "this"],
    "de": ["der", "die", "und", "mit"],
    "fr": ["le", "la", "et", "avec"],
    "es": ["el", "los", "y", "con"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokens, empties dropped (mirrors word splitting used
    throughout the reference, e.g. rdf_graph.py:283)."""
    return F.filter(F.split(col, " "), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# GPT-2-style pre-tokenizer regex, restricted to syntax with identical
# leftmost-first semantics in Java regex (Spark) and RE2 (DuckDB):
# contraction suffixes, space-prefixed letter/digit/punctuation runs,
# residual whitespace runs. (The original's lookahead `\s+(?!\S)` is
# unsupported in RE2 and dropped — whitespace folds into the following
# token via the " ?" prefixes, same as upstream.)
BPE_SPLIT_PATTERN = (r"'(?:s|t|re|ve|m|ll|d)"
                     r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+")


def bpe_token_count(col: Column) -> Column:
    """Sub-word-ish token count under the BPE pre-tokenizer split —
    the cost/length estimate training pipelines budget with (whitespace
    token counts undercount punctuation-heavy text). Pure Column
    regexp, JVM-side."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_SPLIT_PATTERN), 0))


def char_sum(col: Column) -> Column:
    """Total characters across tokens (with token_count gives avg token
    length without emitting floats)."""
    return F.aggregate(
        F.transform(tokens(col), lambda t: F.length(t)),
        F.lit(0), lambda acc, x: acc + x)


def stopword_count(col: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or STOPWORDS
    return F.size(F.filter(tokens(F.lower(col)), lambda t: t.isin(sw)))


def digit_token_count(col: Column) -> Column:
    return F.size(F.filter(tokens(col), lambda t: t.rlike("[0-9]")))


def langid(col: Column) -> Column:
    """Argmax over marker scores; ties resolved by language code order
    (deterministic). Unknown when every score is 0. The token array is
    bound once (dedup.bound) — the 4 marker scores are each referenced
    twice, which would otherwise re-tokenize the document ~8×."""
    from .dedup import bound

    def pick(toks):
        pairs = [(lang, F.size(F.filter(toks, lambda t: t.isin(m))))
                 for lang, m in sorted(LANG_MARKERS.items())]
        best_score = F.greatest(*[s for _, s in pairs])
        result = F.lit("und")
        for lang, score in reversed(pairs):  # earlier langs win ties
            result = F.when((score == best_score) & (best_score > 0),
                            F.lit(lang)).otherwise(result)
        return result

    return bound(tokens(F.lower(col)), pick)


def fingerprint(col: Column, k: int = 5) -> Column:
    """Prefix fingerprint: md5 over the first k tokens — the rebuild's
    analog of the reference's 500-char-prefix dedup probe
    (textparsing.py:70-76)."""
    return F.md5(F.concat_ws(" ", F.slice(tokens(col), 1, k)))


def text_signals(docs, text_col: str = "text",
                 id_col: str = "doc_id"):
    """All seven per-row text signals in one projection with SHARED
    tokenizations: ``tokens(text)`` feeds n_tokens / n_chars /
    n_digit_tokens / fp and ``tokens(lower(text))`` feeds n_stopwords /
    lang_pred — each computed ONCE per row. The independent column
    formulation re-tokenized the document ~6× (Catalyst does no CSE
    across HOF expressions; guide §1.2 per-task work). Evaluation-once
    is forced by routing the signal struct through ``explode(array(…))``:
    a Generate operator materializes the struct per row, so the field
    projections read it instead of re-evaluating the expression per
    field. Signal expressions are verbatim the single-signal operators'
    (same names, types, values — pytest-pinned equal)."""
    from .dedup import bound

    col = F.col(text_col)

    def signals(tk, lk):
        pairs = [(lang, F.size(F.filter(lk, lambda t: t.isin(m))))
                 for lang, m in sorted(LANG_MARKERS.items())]
        best = F.greatest(*[s for _, s in pairs])
        lang_pred = F.lit("und")
        for lang, score in reversed(pairs):  # earlier langs win ties
            lang_pred = F.when((score == best) & (best > 0),
                               F.lit(lang)).otherwise(lang_pred)
        return F.struct(
            F.size(tk).alias("n_tokens"),
            F.size(F.regexp_extract_all(
                col, F.lit(BPE_SPLIT_PATTERN), 0)).alias("n_bpe"),
            F.aggregate(F.transform(tk, lambda t: F.length(t)),
                        F.lit(0), lambda acc, x: acc + x).alias("n_chars"),
            F.size(F.filter(lk, lambda t: t.isin(STOPWORDS)))
            .alias("n_stopwords"),
            F.size(F.filter(tk, lambda t: t.rlike("[0-9]")))
            .alias("n_digit_tokens"),
            lang_pred.alias("lang_pred"),
            F.md5(F.concat_ws(" ", F.slice(tk, 1, 5))).alias("fp"))

    sig = bound(tokens(col),
                lambda tk: bound(tokens(F.lower(col)),
                                 lambda lk: signals(tk, lk)))
    return (docs.select(F.col(id_col), F.explode(F.array(sig)).alias("_s"))
            .select(id_col, "_s.*"))


# --------------------------------------------------------------------------
# bigram language-model quality score (CCNet-style LM filtering)
# --------------------------------------------------------------------------

def bigram_pairs(col: Column) -> Column:
    """Token bigrams of a text column as (w1, w2) structs (lowercased,
    whitespace tokens); empty array below 2 tokens."""
    from .dedup import bound

    # token array bound once per row (dedup.bound — the two element_at
    # references per bigram would otherwise re-tokenize per element)
    return bound(tokens(F.lower(col)), lambda arr: F.when(
        F.size(arr) < 2, F.array().cast("array<struct<w1:string,w2:string>>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.struct(F.element_at(arr, i).alias("w1"),
                               F.element_at(arr, i + 1).alias("w2")))))


def train_bigram_lm(docs: DataFrame, text_col: str = "text"
                    ) -> dict[str, DataFrame]:
    """Corpus → add-one-smoothed bigram LM tables:
    ``{"bigrams": (w1, w2, c2), "unigrams": (w1, c1), "vocab_n": int}``.

    The LM-filtering step of web-pipeline curation (CCNet/RefinedWeb
    shape: score each page by an n-gram LM trained on a reference
    slice, drop the tail). Two shuffle-bounded aggregations — the same
    scale shape as tf-idf; the model tables are vocabulary-bounded."""
    bg = docs.select(F.explode(bigram_pairs(F.col(text_col))).alias("b"))
    bigrams_lazy = (bg.select("b.w1", "b.w2")
                    .groupBy("w1", "w2").agg(F.count("*").alias("c2")))
    uni = docs.select(F.explode(tokens(F.lower(F.col(text_col))))
                      .alias("w1"))
    unigrams_lazy = uni.groupBy("w1").agg(F.count("*").alias("c1"))
    # The two aggregations are independent — materialize them as
    # CONCURRENT jobs (guide §2.6: actions are only sequential because
    # driver code calls them sequentially; the second job's tasks
    # back-fill executors freed by the first job's tail).
    # Each pool thread inherits the caller's local properties and tags
    # (job group, scheduler pool), so the two jobs count as the caller's.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    staged = inheritable_thread_target(docs.sparkSession)(stage)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_bi = pool.submit(staged, bigrams_lazy)
        f_un = pool.submit(staged, unigrams_lazy)
        bigrams, unigrams = f_bi.result(), f_un.result()
    # model tables are vocabulary-bounded: checkpoint them once so the
    # vocab count here and every downstream scoring pass reuse the
    # materialized aggregates instead of re-running the corpus aggs
    # (measured: the lazy tables re-aggregated the training half TWICE
    # inside the first scoring action)
    vocab_n = unigrams.count()
    return {"bigrams": bigrams, "unigrams": unigrams, "vocab_n": vocab_n}


def lm_score(docs: DataFrame, lm: dict, text_col: str = "text",
             id_col: str = "doc_id",
             broadcast_model: bool = True) -> DataFrame:
    """(id, n_bigrams, lm_score_e4): mean log P(w2|w1) per document
    under the add-one-smoothed model, P = (c2+1)/(c1+V) with c2=0 /
    c1=0 for unseen pairs/words; floored to e4 integer units for
    cross-engine comparison (documents without bigrams score 0).

    Shapes: the model tables are vocabulary-bounded (a reference-slice
    LM, the CCNet posture), so by default they BROADCAST onto the
    exploded corpus stream — the only shuffle left is the per-doc
    partial aggregation (measured 29.8→9.9s on the 400k curation flow
    at 16 cores; the unhinted plan shuffled the exploded corpus three
    times). Pass ``broadcast_model=False`` for an unbounded model,
    falling back to keyed equi-joins."""
    v = int(lm["vocab_n"])
    hint = F.broadcast if broadcast_model else (lambda d: d)
    exploded = docs.select(
        F.col(id_col),
        F.explode_outer(bigram_pairs(F.col(text_col))).alias("b")) \
        .select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    joined = (exploded
              .join(hint(lm["bigrams"]), ["w1", "w2"], "left")
              .join(hint(lm["unigrams"]), ["w1"], "left"))
    logp = F.log((F.coalesce("c2", F.lit(0)) + 1.0)
                 / (F.coalesce("c1", F.lit(0)) + F.lit(float(v))))
    per_doc = (joined.groupBy(id_col)
               .agg(F.count("w1").alias("n_bigrams"),
                    F.sum(F.when(F.col("w1").isNotNull(), logp))
                    .alias("_s")))
    return per_doc.select(
        id_col, "n_bigrams",
        F.when(F.col("n_bigrams") == 0, F.lit(0)).otherwise(
            F.floor(F.col("_s") * 10_000 / F.col("n_bigrams")))
        .cast("long").alias("lm_score_e4"))


# --------------------------------------------------------------------------
# URL/domain curation (RefinedWeb-style: blocklist + per-domain caps)
# --------------------------------------------------------------------------

def domain_of(col: Column) -> Column:
    """scheme://host/... → host (regex form chosen so the DuckDB twin
    is character-identical; Spark's parse_url differs on edge cases)."""
    return F.regexp_extract(col, r"^[a-z]+://([^/]+)", 1)


def filter_blocklist(docs: DataFrame, blocked_domains: list[str],
                     key: Column | None = None) -> DataFrame:
    """Drop documents whose source key is blocklisted; ``key`` defaults
    to the URL's domain (pass e.g. ``F.col("source")`` for tables that
    carry a source id instead of a URL). The blocklist is a broadcast
    anti-join (curation metadata — bounded), so the filter is one
    narrow pass over the corpus."""
    spark = docs.sparkSession
    key = domain_of(F.col("url")) if key is None else key
    bl = F.broadcast(spark.createDataFrame(
        [(d,) for d in blocked_domains], "_blk_domain string"))
    return (docs.withColumn("_dom", key)
            .join(bl, F.col("_dom") == F.col("_blk_domain"), "left_anti")
            .drop("_dom"))


def cap_per_domain(docs: DataFrame, max_per_domain: int,
                   key: Column | None = None, order_col: str = "doc_id"
                   ) -> DataFrame:
    """Keep at most ``max_per_domain`` documents per source key
    (default: URL domain), earliest ``order_col`` first — the
    per-source cap that stops any single host from dominating a
    crawl-derived training set. One key-partitioned window (shuffle on
    the key; Zipfian domains are exactly what AQE skew handling is
    enabled for in session.py)."""
    from pyspark.sql import Window

    key = domain_of(F.col("url")) if key is None else key
    w = Window.partitionBy(key).orderBy(F.asc(order_col))
    return (docs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_per_domain)
            .drop("_rn"))


def dup_ngram_fraction(col: Column, n: int = 5) -> Column:
    """Gopher-rule repetition signal: fraction of token n-grams that
    are repeats of an earlier n-gram in the same document,
    ``(total − distinct) / total`` in e4 integer units (0 when the
    document has no n-grams). Pure Column expression — no shuffle, no
    UDF; the in-document analog of the cross-document shingle dedup."""
    from .dedup import bound, shingles

    def frac(sh):
        total = F.size(sh)
        distinct = F.size(F.array_distinct(sh))
        return F.when(total <= 0, F.lit(0)).otherwise(
            F.floor((total - distinct) * 10_000 / total)).cast("long")

    # shingle array bound once (total AND distinct both reference it)
    return bound(shingles(col, n), frac)


# --------------------------------------------------------------------------
# PII scrubbing (C4/RefinedWeb-style pre-training hygiene)
# --------------------------------------------------------------------------

# Order matters: emails before IPs before phones — the phone pattern
# would otherwise consume dotted IPs. Patterns restricted to syntax
# with identical semantics in Java regex (Spark) and RE2 (DuckDB), so
# the oracle replays them verbatim.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ip", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d\s().-]{7,}\d", "<PHONE>"),
]


def scrub_pii(col: Column) -> Column:
    """Replace emails / IPv4s / international-format phone numbers with
    typed placeholders (the C4-style PII pass every web-scale corpus
    runs before training). Pure chained ``regexp_replace`` Column
    expression — JVM-side, no UDF, no shuffle."""
    out = col
    for _kind, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_count(col: Column) -> Column:
    """Total PII hits per document (audit metric for the scrub pass).
    Counted on the progressively-scrubbed text with the same pattern
    order, so overlapping matches are attributed once."""
    total = F.lit(0)
    cur = col
    for _kind, pat, repl in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
        cur = F.regexp_replace(cur, pat, repl)
    return total.cast("long")


# --------------------------------------------------------------------------
# boilerplate line removal (RefinedWeb line-wise dedup shape)
# --------------------------------------------------------------------------

def remove_common_lines(docs, min_docs: int, sep: str = "\n",
                        text_col: str = "text", id_col: str = "doc_id"):
    """Drop every line that occurs in ≥ ``min_docs`` distinct documents
    (nav bars, cookie banners, subscribe prompts — RefinedWeb's
    line-wise dedup), preserving each document's remaining line order.

    → (id, text, n_lines_kept). Scale shape: posexplode → one
    count-distinct agg keyed on the line (map-side combinable) → one
    groupBy(id) rebuild sorted by original position. Never compares
    documents pairwise. The common-line side is ≤ total_lines/min_docs
    but NOT dictionary-bounded at corpus scale, so the anti-join is
    left unhinted — Catalyst/AQE broadcasts it when its runtime size
    allows and falls back to a shuffled anti-join keyed on the line
    otherwise."""
    lines = docs.select(
        F.col(id_col),
        # \Q…\E: the separator is a literal, not a regex
        F.posexplode(F.split(F.col(text_col), "\\Q" + sep + "\\E"))
        .alias("_idx", "_line"))
    common = (lines.groupBy("_line")
              .agg(F.count_distinct(id_col).alias("_nd"))
              .filter(F.col("_nd") >= min_docs)
              .select("_line"))
    kept = lines.join(common, "_line", "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_sort(F.collect_list(
                        F.struct("_idx", "_line"))).alias("_ls"))
               .select(
                   id_col,
                   F.array_join(
                       F.transform("_ls", lambda s: s["_line"]),
                       sep).alias(text_col),
                   F.size("_ls").cast("long").alias("n_lines_kept")))
    return rebuilt


# --------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap removal)
# --------------------------------------------------------------------------

def decontaminate(docs, benchmark, n: int = 8,
                  text_col: str = "text", id_col: str = "doc_id"):
    """Drop every document sharing ANY token ``n``-gram with the
    benchmark corpus — the test-set decontamination pass training
    pipelines run so eval data never leaks into training data.

    Scale shape: both sides explode to distinct shingles reduced to
    64-bit xxhash keys BEFORE anything shuffles — the join and the
    benchmark broadcast carry longs, not n-gram strings (~25× narrower
    at n=8; a hash collision can only over-drop one extra doc, the
    conservative direction for decontamination). The overlap check is
    a hash-keyed equi-join (the benchmark side is eval-set-sized →
    broadcastable), then one anti-join on the doc id. Never a pairwise
    document comparison."""
    def hashed(col):
        # hash token TUPLES with multi-arg xxhash64 — the n-gram
        # strings are never materialized (no concat per position), and
        # the token array is lambda-bound so it's evaluated once per
        # row (dedup.bound). No array_distinct (O(len²) per doc); the
        # downstream .distinct()/join dedupe anyway.
        from .dedup import bound

        return bound(tokens(col), lambda toks: F.when(
            F.size(toks) < n,
            F.array(F.xxhash64(F.concat_ws(" ", toks)))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.xxhash64(
                    *[F.element_at(toks, i + j) for j in range(n)]))))

    doc_sh = docs.select(
        F.col(id_col),
        F.explode(hashed(F.col(text_col))).alias("_sh"))
    bench_sh = (benchmark
                .select(F.explode(hashed(F.col(text_col))).alias("_sh"))
                .distinct())
    contaminated = (doc_sh.join(F.broadcast(bench_sh), "_sh")
                    .select(id_col).distinct())
    return docs.join(contaminated, id_col, "left_anti")


# --------------------------------------------------------------------------
# deterministic mixture sampling (corpus-weighting for training mixes)
# --------------------------------------------------------------------------

def hash_uniform(col: Column) -> Column:
    """Deterministic uniform-[0,1) draw per key: first 8 md5 hex chars
    → 32-bit integer / 2^32. Identical arithmetic is replayable in any
    engine with md5 — no RNG state, no seed coordination across
    executors, stable under retries and repartitioning."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
            .cast("double") / F.lit(4294967296.0))


def mixture_sample(docs, rates: dict[str, float],
                   key_col: str = "source", id_col: str = "doc_id",
                   default_rate: float = 0.0):
    """Keep each document with its source's target probability
    (training-mix reweighting: upsample curated sources, downsample
    crawl tails) using the deterministic ``hash_uniform`` draw on the
    doc id. The rates table is curation metadata → broadcast join; the
    filter is one narrow pass, repeatable across runs and engines."""
    spark = docs.sparkSession
    rt = F.broadcast(spark.createDataFrame(
        [(k, float(v)) for k, v in rates.items()],
        f"{key_col} string, _rate double"))
    return (docs.join(rt, key_col, "left")
            .withColumn("_rate", F.coalesce("_rate",
                                            F.lit(float(default_rate))))
            .filter(hash_uniform(F.col(id_col)) < F.col("_rate"))
            .drop("_rate"))
