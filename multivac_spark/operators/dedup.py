"""Deduplication operators: exact, MinHash(+LSH bands), SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Designed for 100 TB corpora: every operator is shuffle-bounded by
hash-partitioned groupBys / band-bucket joins (never an O(n²) cross
join), and every expression is a built-in Column function so the hot
path stays in whole-stage codegen. Hash functions are md5-based, chosen
because the DuckDB oracle computes the identical digests — determinism
is cross-engine, not just cross-run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..session import stage
from .textops import tokens

_ODD_HEX = list("13579bdf")


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per duplicate
    group (hash, keeper=min id, dup count)."""
    return (df.select(F.md5(F.col(text_col)).alias("content_hash"),
                      F.col(id_col))
            .groupBy("content_hash")
            .agg(F.min(id_col).alias("keeper"),
                 F.count("*").alias("n_dups"))
            .filter(F.col("n_dups") > 1))


def bound(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row by binding it as a higher-order-
    function lambda variable: ``fn`` receives a bound VALUE, so
    referencing it per element costs nothing. Catalyst does no common-
    subexpression elimination inside HOF lambdas — an
    ``element_at(expensive_expr, i)`` inside ``transform`` re-evaluates
    ``expensive_expr`` for EVERY element (measured 4× on the shingle
    family at sf0.1) — and projection collapse re-inlines any
    intermediate select, so this binding is the no-materialization fix
    (the alternative is a ``stage`` barrier)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def shingles(col: Column, n: int = 3) -> Column:
    """Token n-gram shingles of a text column (token array bound once
    per row — see ``bound``)."""
    return bound(tokens(col), lambda toks: F.when(
        F.size(toks) < n, F.array(F.concat_ws(" ", toks))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]))
    ))


def minhash_signature(col: Column, k: int = 8, n: int = 3) -> Column:
    """k-permutation MinHash over n-gram shingles: hash_i(s) =
    md5(i:s), signature = array of per-i minima. The md5 family is
    reproduced verbatim by the DuckDB oracle."""
    def hasher(i: int):
        # closure factory — a default-arg lambda would change the
        # PySpark higher-order-function arity (2-arg = (element, index))
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))

    # shingle array bound once — the k hash families would otherwise
    # each re-evaluate the whole shingling (no CSE inside HOFs)
    return bound(shingles(col, n),
                 lambda sh: F.array(*[
                     F.array_min(F.transform(sh, hasher(i)))
                     for i in range(k)]))


def minhash_band_keys(sig: Column, bands: int, rows: int) -> Column:
    """Split a k=bands*rows signature into band keys (join-bucket ids)."""
    return F.array(*[
        F.concat_ws("|", F.slice(sig, b * rows + 1, rows))
        for b in range(bands)
    ])


def minhash_signatures_agg(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           k: int = 8, n: int = 3) -> DataFrame:
    """(id, sig array<string>) via explode + k min-aggregations — one
    map-side-combinable shuffle on the id. Functionally identical to
    ``minhash_signature`` but flat-expression (nested higher-order
    functions over 4 copies of the shingle array fall out of whole-stage
    codegen; this shape stays in it — ~15× faster at 60k docs)."""
    # array_distinct before explode: min() is duplicate-invariant, so
    # the signature is identical while repeated shingles (common in
    # boilerplate-heavy web text) skip their k md5 evaluations
    sh = df.select(F.col(id_col),
                   F.explode(F.array_distinct(
                       shingles(F.col(text_col), n))).alias("s"))
    aggs = [F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s"))))
            .alias(f"mh{i}") for i in range(k)]
    agg = sh.groupBy(id_col).agg(*aggs)
    return agg.select(id_col,
                      F.array(*[F.col(f"mh{i}") for i in range(k)])
                      .alias("sig"))


def minhash_dup_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      bands: int = 4, rows: int = 2,
                      n: int = 3) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing any band bucket.
    Band-bucket equi-join (shuffle on band key) — never all-pairs."""
    sigs = minhash_signatures_agg(df, text_col, id_col, k=bands * rows, n=n)
    # materialize the banded keys ONCE: the two branches of the lazy
    # self-join would otherwise each recompute the whole signature
    # pipeline (shingle + k·md5 + min-agg). At cluster scale this is
    # the staged signature table.
    banded = stage(sigs.select(id_col,
                               F.posexplode(minhash_band_keys(
                                   F.col("sig"), bands, rows))
                               .alias("band", "bkey")))
    a = banded.select(F.col(id_col).alias("a"), "band", "bkey")
    b = banded.select(F.col(id_col).alias("b"), "band", "bkey")
    return (a.join(b, ["band", "bkey"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


def simhash_bits(col: Column, n_bits: int = 16) -> Column:
    """SimHash: bit b = sign of Σ_tokens (±1 by bit b of md5(token)).
    Bit b of the digest is modeled as the parity of hex digit b —
    identical arithmetic in the DuckDB oracle. Returns an n_bits-char
    '0'/'1' string."""
    def stepper(b: int):
        # closure factory (see minhash_signature note on lambda arity)
        return lambda acc, d: acc + F.when(
            F.substring(d, b + 1, 1).isin(_ODD_HEX),
            F.lit(1)).otherwise(F.lit(-1))

    def all_bits(digests):
        bits = []
        for b in range(n_bits):
            contrib = F.aggregate(digests, F.lit(0), stepper(b))
            bits.append(F.when(contrib > 0,
                               F.lit("1")).otherwise(F.lit("0")))
        return F.concat(*bits)

    # per-token md5 digests bound ONCE — the 16 per-bit folds read the
    # cached digest array instead of re-tokenizing + re-hashing the
    # document 16×
    return bound(F.transform(tokens(col), lambda t: F.md5(t)), all_bits)


def simhash_signatures_agg(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           n_bits: int = 32) -> DataFrame:
    """(id, _sig) SimHash signatures via explode + per-bit sum
    aggregation — output-identical to ``simhash_bits`` (bit b = sign of
    Σ ±1 by parity of md5 hex digit b), but flat-expression: the
    per-document 32-way fold over a bound digest array runs interpreted
    outside whole-stage codegen (measured 4.7s of the 6s pair pass at
    sf0.1); this shape is the ``minhash_signatures_agg`` precedent —
    one map-side-combinable shuffle of (id, 33 longs).

    Per token the 32 hex-digit parities collapse to ONE long mask
    (``translate`` hex→parity chars, ``conv`` base-2): bit b of the
    signature is then  2·Σ_tokens maskbit_b > n_tokens  — the exact
    integer form of sign(Σ ±1) > 0."""
    mask = F.conv(F.translate(F.md5(F.col("_tok")),
                              "0123456789abcdef", "0101010101010101"),
                  2, 10).cast("long")
    tok = df.select(F.col(id_col),
                    F.explode_outer(tokens(F.col(text_col))).alias("_tok"))
    aggs = [F.coalesce(
        F.sum(F.shiftrightunsigned(mask, 32 - 1 - b).bitwiseAND(F.lit(1))),
        F.lit(0)).alias(f"_c{b}") for b in range(n_bits)]
    agg = tok.groupBy(id_col).agg(F.count("_tok").alias("_nt"), *aggs)
    bits = [F.when(2 * F.col(f"_c{b}") > F.col("_nt"),
                   F.lit("1")).otherwise(F.lit("0"))
            for b in range(n_bits)]
    return agg.select(id_col, F.concat(*bits).alias("_sig"))


def simhash_dup_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_bits: int = 16,
                      max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: all (a < b) with
    Hamming(simhash_a, simhash_b) ≤ ``max_hamming``.

    Scale shape (mirrors ``minhash_dup_pairs``): signatures are split
    into ``max_hamming + 1`` equal-width bands — by pigeonhole, any
    pair within the Hamming radius agrees EXACTLY on at least one band
    — so candidates come from a band-bucket equi-join (shuffle on the
    band substring), then the exact Hamming verification runs only on
    candidates (the canon.py:279 prefilter pattern). Never all-pairs;
    band keys are content-derived and uniformly distributed, no skew.
    → (a, b, hamming)."""
    bands = max_hamming + 1
    if n_bits % bands:
        raise ValueError(f"n_bits={n_bits} must divide into "
                         f"max_hamming+1={bands} equal bands")
    width = n_bits // bands
    # staged signature table: every branch below reads it instead of
    # recomputing the signatures (the agg shape replaces the
    # interpreted n_bits-way fold of simhash_bits — output-identical,
    # pytest-pinned)
    sigs = stage(simhash_signatures_agg(df, text_col, id_col, n_bits))
    # Band + verify over DISTINCT signatures, then expand to document
    # pairs by signature-group join. Output-identical to banding the
    # document table directly, but the quadratic candidate work runs
    # on |distinct sigs| ≤ |docs| — on mass-duplicated corpora (the
    # case web-scale dedup exists for: mirrors, boilerplate farms)
    # thousands of docs share a signature and banding doc rows would
    # re-verify every cross pair once per shared band; here each
    # signature PAIR is verified exactly once and true pairs fan out
    # through a plain equi-join (that fan-out IS the output size).
    # Signatures ride as LONGs from here on: band keys are shift/mask
    # extractions and the Hamming verify is ONE xor+bit_count — the
    # bit-string representation (needed only for the cross-engine
    # oracle arithmetic) never enters the join. The candidate stream
    # is filtered by the O(1) verify BEFORE any dedup, so the
    # cross-band duplicate removal runs on survivors (≈ output size),
    # not on the raw candidate volume.
    sl = sigs.withColumn("_sl", F.conv("_sig", 2, 10).cast("long"))
    usig = stage(sl.select("_sl").distinct())
    banded = usig.select(
        "_sl",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(
                F.col("_sl"), n_bits - (b + 1) * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            for b in range(bands)])).alias("_band", "_bkey"))
    verified = (banded.select(F.col("_sl").alias("_sa"),
                              "_band", "_bkey")
                .join(banded.select(F.col("_sl").alias("_sb"),
                                    "_band", "_bkey"),
                      ["_band", "_bkey"])
                .filter(F.col("_sa") < F.col("_sb"))
                .select("_sa", "_sb",
                        F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
                        .cast("long").alias("hamming"))
                .filter(F.col("hamming") <= max_hamming)
                .distinct())
    ga = sl.select(F.col(id_col).alias("a"), F.col("_sl").alias("_sa"))
    gb = sl.select(F.col(id_col).alias("b"), F.col("_sl").alias("_sb"))
    cross = (verified.join(ga, "_sa").join(gb, "_sb")
             .select(F.least("a", "b").alias("a"),
                     F.greatest("a", "b").alias("b"), "hamming"))
    within = (ga.join(gb.withColumnRenamed("_sb", "_sa"), "_sa")
              .filter(F.col("a") < F.col("b"))
              .select("a", "b", F.lit(0).cast("long").alias("hamming")))
    return cross.unionByName(within)


def ngram_jaccard(a: Column, b: Column, n: int = 3,
                  scale: int = 10_000) -> Column:
    """Jaccard similarity of n-gram shingle sets, scaled to an integer
    (float-free for cross-engine hashing)."""
    # both shingle sets bound once (each is referenced by intersect
    # AND union — unbound, the shingling would run twice per side)
    return bound(
        F.array_distinct(shingles(a, n)),
        lambda sa: bound(
            F.array_distinct(shingles(b, n)),
            lambda sb: _jaccard_of(sa, sb, scale)))


def _jaccard_of(sa: Column, sb: Column, scale: int) -> Column:
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.when(union == 0, F.lit(0)).otherwise(
        F.floor(inter * scale / union).cast("long"))


def cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def embedding_near_dups(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        block_col: str | None = "label",
                        threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs. With a blocking column the
    join is an equi-join per block (the scale path — blocks from
    LSH/IVF or an upstream label); without one it degrades to a
    documented all-pairs for test-scale inputs only."""
    # Precompute per ROW (not per pair) everything that depends on one
    # side only: the float→double cast and the L2 norm. The cosine for a
    # pair is then one dot-product fold plus a division by the two
    # cached norms — identical arithmetic (the norms are the exact same
    # sqrt-of-sequential-fold doubles), but the per-candidate work drops
    # from 3 interpreted O(dim) array folds (+2 casts) to 1 (guide §1.2
    # "per-task work": the folds run inside the join condition, outside
    # whole-stage codegen, so each element step pays interpreter cost).
    vd = F.col(vec_col).cast("array<double>")
    nrm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x))
    left = df.select(F.col(id_col).alias("a"),
                     vd.alias("va"), nrm.alias("na"),
                     *( [F.col(block_col).alias("blk")] if block_col else []))
    right = df.select(F.col(id_col).alias("b"),
                      vd.alias("vb"), nrm.alias("nb"),
                      *( [F.col(block_col).alias("blk")] if block_col else []))
    joined = (left.join(right, "blk") if block_col
              else left.crossJoin(right))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    sim = dot / (F.col("na") * F.col("nb"))
    return (joined.filter(F.col("a") < F.col("b"))
            .withColumn("cos_sim", sim)
            .filter(F.col("cos_sim") >= threshold)
            .select("a", "b",
                    F.floor(F.col("cos_sim") * 1_000_000)
                    .cast("long").alias("cos_sim_micro")))


def remove_repeated_spans(docs: DataFrame, span: int = 50,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Exact substring-level dedup in the Lee-et-al. "Deduplicating
    Training Data" shape: every token window of length ``span`` that
    occurs more than once IN THE WHOLE CORPUS (across or within
    documents) is removed from every occurrence except the canonical
    first one (min (doc_id, position)); documents are rebuilt with the
    surviving tokens in order.

    → (id, text, n_tokens_removed).

    Scale shape (no suffix array needed for fixed-length windows):
    1. one narrow pass hashes every ``span``-gram with its position —
       the gram key is a PAIR of seeded multi-arg ``xxhash64`` values
       over the token tuple (the decontaminate trick: the ~300-byte
       gram strings are never concatenated or md5'd; two longs ≈ 128
       key bits, so at 100 TB gram counts (~1e13) the birthday
       collision probability stays ~1e-13 — a single 64-bit key would
       NOT be safe there, and a collision here wrongly deletes text);
    2. one groupBy(gram) finds grams with count > 1 and their
       canonical occurrence (min struct) — map-side combinable;
       singleton grams (the overwhelming majority) never leave the
       partial agg with count > 1;
    3. non-canonical occurrences explode to covered token positions
       (×span — the same blow-up the reference algorithm's suffix
       ranges pay), distinct-ed per doc;
    4. rebuild = positional anti-join + ordered array_join.
    Never a pairwise document comparison; the heavy join keys are
    content hashes, uniformly distributed — no skew."""
    toks = tokens(F.col(text_col))
    base = stage(docs.select(F.col(id_col), toks.alias("_ts"))
                 .withColumn("_n", F.size("_ts")))
    def _gram_key(i):
        toks = [F.element_at("_ts", i + j) for j in range(span)]
        return F.struct(F.xxhash64(*toks).alias("h1"),
                        F.xxhash64(F.lit(7), *toks).alias("h2"))

    # staged once: the dup aggregate AND the probe side of the
    # canonical-occurrence join both read this table — lazily, each
    # branch re-evaluated the O(n·span) gram-key transform (the single
    # most expensive expression of the pass, and it ran twice). 24
    # bytes/row — at 100 TB this is the staged gram table of the
    # Lee-et-al. pipeline, same shape.
    grams = stage(base.filter(F.col("_n") >= span)
                  .select(
                      id_col,
                      F.posexplode(F.transform(
                          F.sequence(F.lit(1), F.col("_n") - (span - 1)),
                          _gram_key))
                      .alias("_off", "_g"))
                  .select(id_col, (F.col("_off") + 1).alias("_pos"), "_g"))
    dup = (grams.groupBy("_g")
           .agg(F.count("*").alias("_c"),
                F.min(F.struct(F.col(id_col).alias("d"),
                               F.col("_pos").alias("p"))).alias("_k"))
           .filter(F.col("_c") > 1)
           .select("_g", "_k"))
    # small (non-canonical occurrences only); feeds both touched_ids
    # and covered without recomputing the gram agg twice
    removed = stage(grams.join(dup, "_g")
                    .filter(~((F.col(id_col) == F.col("_k.d"))
                              & (F.col("_pos") == F.col("_k.p"))))
                    .select(id_col, "_pos"))
    covered = (removed
               .select(id_col,
                       F.explode(F.sequence(
                           F.col("_pos"),
                           F.col("_pos") + (span - 1))).alias("_cp"))
               .distinct())
    # Only docs that actually lost a span pay the token-explode →
    # anti-join → regroup rebuild; everyone else (the overwhelming
    # majority of a web corpus) passes through a narrow projection.
    # At 100 TB this keeps the rebuild shuffle proportional to the
    # DUPLICATED slice, not the whole corpus.
    touched_ids = removed.select(id_col).distinct()
    touched = base.join(touched_ids, id_col, "left_semi")
    tokpos = touched.select(
        id_col, "_n",
        F.posexplode("_ts").alias("_off", "_tok")) \
        .select(id_col, "_n", (F.col("_off") + 1).alias("_cp"), "_tok")
    kept = tokpos.join(covered, [id_col, "_cp"], "left_anti")
    rebuilt_kept = (kept.groupBy(id_col)
                    .agg(F.array_sort(F.collect_list(
                             F.struct("_cp", "_tok"))).alias("_ls"),
                         F.first("_n").alias("_n"))
                    .select(
                        id_col,
                        F.array_join(F.transform("_ls",
                                                 lambda s: s["_tok"]),
                                     " ").alias(text_col),
                        (F.col("_n") - F.size("_ls")).cast("long")
                        .alias("n_tokens_removed")))
    # A doc whose EVERY token position is covered (e.g. a short doc
    # wholly duplicated elsewhere) has no `kept` rows, so the groupBy
    # above omits it entirely — left-join the rebuilt rows back onto
    # the touched id set and coalesce to (id, "", _n) so the corpus
    # row survives with empty text instead of vanishing silently.
    rebuilt = (touched.select(id_col, "_n")
               .join(rebuilt_kept, id_col, "left")
               .select(
                   id_col,
                   F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
                   F.coalesce(F.col("n_tokens_removed"),
                              F.col("_n").cast("long"))
                   .alias("n_tokens_removed")))
    untouched = (base.join(touched_ids, id_col, "left_anti")
                 .select(F.col(id_col),
                         F.array_join("_ts", " ").alias(text_col),
                         F.lit(0).cast("long")
                         .alias("n_tokens_removed")))
    return rebuilt.unionByName(untouched)
