"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the full KG-construction pipeline
(extract → clean → parse → SVO → normalize → canonicalize → edges) over
the deterministic synthetic Common-Crawl-style corpus, sanity-anchored
to /root/testdata/sf0.001.

``queries()`` / ``oracle_sql()`` — one entry per operator from
SURVEY.md §2 plus the training-data operators (dedup family, ANN, text
analysis), each delegating to the package implementation in
``multivac_spark`` and paired with an exact DuckDB twin — EVERY query
is oracled (zero rows-only entries): LSH/IVF ANN twins reproduce the
full bucketing pipeline from the same seeded hyperplane/centroid
literals, the KG pipeline is pinned by a golden triple-set digest, and
eigenvector centrality by numpy-verified per-node VALUES. Integer-
valued outputs everywhere floats would risk cross-engine hash drift.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from multivac_spark.operators import analytics, ann, dedup, textops
from multivac_spark.operators.textops import tokens
from multivac_spark.session import stage

SF0001 = "/root/testdata/sf0.001"

STOP_SQL = "('" + "','".join(textops.STOPWORDS) + "')"
_ODD = "('1','3','5','7','9','b','d','f')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """KG pipeline on the synthetic corpus (sf0.001-scale, 100 docs),
    returning canonicalized triples; reads the driver's sf0.001
    documents table as a sanity anchor (row count attached as a column
    so the scan is genuinely executed)."""
    from multivac_spark.plans.pipeline import PipelineConfig, run_pipeline
    from multivac_spark.sources import corpus

    docs = corpus.documents_df(spark, corpus.n_docs_for_sf(0.001))
    emb = corpus.embeddings_df(spark)
    tables = run_pipeline(spark, docs, emb,
                          PipelineConfig(top_n_ent=5000, top_n_rel=50))
    driver_docs = _t(spark, SF0001, "documents").count()
    return (tables["final_triples"]
            .withColumn("driver_docs_sf0001", F.lit(driver_docs)))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_scan_filter_project(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= "1998-01-01")
                      & (F.col("l_discount") > 0.02))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 F.floor(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))) * 100)
                 .cast("long").alias("revenue_cents"),
                 F.sum("l_quantity").cast("long").alias("sum_qty")))


SQL_SCAN = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
           AS revenue_cents,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_discount > 0.02
GROUP BY l_returnflag, l_linestatus
"""


def q_topn_entities(spark, sf_dir):
    """get_unique_entities semantics (rdf_graph.py:219-235): token
    frequency, top-50, deterministic tie-break."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(F.explode(tokens(F.col("text"))).alias("token"))
            .groupBy("token").agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("token")).limit(50))


SQL_TOPN_ENT = """
SELECT token, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 50
"""


def q_topn_relations(spark, sf_dir):
    """get_unique_relations semantics (rdf_graph.py:237-251)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("event_type")).limit(5))


SQL_TOPN_REL = """
SELECT event_type, count(*) AS cnt FROM events
GROUP BY event_type ORDER BY cnt DESC, event_type ASC LIMIT 5
"""


def q_topn_digest(spark, sf_dir):
    """topn_entities + topn_relations as one digest (round-6
    consolidation: both are tiny top-N shapes over materialize
    semantics and share an output schema after a rename, so merging
    frees a registry slot under the driver's 50-cap for
    `usp_clusters`)."""
    ent = (q_topn_entities(spark, sf_dir)
           .select(F.lit("entity").alias("kind"),
                   F.col("token").alias("key"), "cnt"))
    rel = (q_topn_relations(spark, sf_dir)
           .select(F.lit("relation").alias("kind"),
                   F.col("event_type").alias("key"), "cnt"))
    return ent.unionByName(rel)


SQL_TOPN_DIGEST = (
    f"SELECT 'entity' AS kind, token AS key, cnt FROM ({SQL_TOPN_ENT}) "
    f"UNION ALL "
    f"SELECT 'relation' AS kind, event_type AS key, cnt FROM ({SQL_TOPN_REL})"
)


def q_distinct_dedup(spark, sf_dir):
    """set-style dedup (np.unique / dropDuplicates, SURVEY §2.8)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.select("user_id", "event_type").distinct()
            .groupBy("user_id")
            .agg(F.count("*").alias("n_distinct_types")))


SQL_DISTINCT = """
SELECT user_id, count(*) AS n_distinct_types
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY user_id
"""


def q_id_assignment(spark, sf_dir):
    """deterministic dense id assignment (rdf_graph.py:304-307 →
    row_number over total order, SURVEY §4.3 #4)."""
    from multivac_spark.operators.materialize import assign_ids
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    return assign_ids(toks, "token", "token_id")


SQL_IDS = """
SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT)
    AS token_id
FROM (SELECT DISTINCT token
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE token <> '')
"""


def q_type_constraint(spark, sf_dir):
    """per-relation head/tail sets (rdf_extract.py:876-913) over the
    events graph (event_type = relation, user = head)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.concat_ws(",", F.array_sort(F.collect_set(
                F.col("user_id").cast("string")))).alias("user_set"),
                F.count("*").alias("n")))


SQL_TYPE_CONSTRAINT = """
SELECT event_type,
       array_to_string(list_sort(list(DISTINCT CAST(user_id AS VARCHAR))), ',')
           AS user_set,
       count(*) AS n
FROM events GROUP BY event_type
"""


def q_broadcast_join_agg(spark, sf_dir):
    """dictionary-sized dimension joins → broadcast hash join
    (filter_tuples analog, SURVEY §2.5)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.count("*").alias("n_customers"),
                 F.floor(F.sum("c_acctbal") * 100).cast("long")
                 .alias("acctbal_cents")))


SQL_BROADCAST = """
SELECT r_name, count(*) AS n_customers,
       CAST(floor(sum(c_acctbal) * 100) AS BIGINT) AS acctbal_cents
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_mktsegment"))


SQL_SEMI = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
"""


def q_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


SQL_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_window_topk(spark, sf_dir):
    """longest-rdf-per-sentence analog (rdf_parse.py:245-257): window
    top-k with deterministic tie-break."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id"))
    return (ev.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("user_id", "event_id", "rank"))


SQL_WINDOW = """
SELECT user_id, event_id, rank FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rank
  FROM events) WHERE rank <= 3
"""


def q_cluster_reps(spark, sf_dir):
    """cluster-representative rule (rdf_graph.py:205-217): ' | '-join
    members under the char limit, else first member — over the
    (lang → sources) grouping of the documents table."""
    docs = _t(spark, sf_dir, "documents")
    grouped = (docs.select("lang", "source").distinct()
               .groupBy("lang")
               .agg(F.array_sort(F.collect_list("source")).alias("members")))
    rep = F.when(F.length(F.concat_ws("", "members")) > 80,
                 F.element_at("members", 1)) \
        .otherwise(F.concat_ws(" | ", "members"))
    return grouped.select("lang", rep.alias("rep"))


SQL_CLUSTER_REPS = """
WITH g AS (
  SELECT lang, list_sort(list(DISTINCT source)) AS members
  FROM documents GROUP BY lang)
SELECT lang,
       CASE WHEN length(array_to_string(members, '')) > 80
            THEN members[1]
            ELSE array_to_string(members, ' | ') END AS rep
FROM g
"""


def q_set_ops(spark, sf_dir):
    """set intersection (SURVEY §2.8): users with both click and
    purchase events."""
    ev = _t(spark, sf_dir, "events")
    click = ev.filter("event_type = 'click'").select("user_id").distinct()
    buy = ev.filter("event_type = 'purchase'").select("user_id").distinct()
    return click.intersect(buy)


SQL_SET_OPS = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
"""


def q_degree_centrality(spark, sf_dir):
    """degree centrality (get_kg_query_params.py:16-25) over the
    part–supplier bipartite graph from lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(F.col("l_partkey").alias("head_id"),
                      (F.col("l_suppkey") + 10_000_000).alias("tail_id"))
    return analytics.degree_centrality(edges)


SQL_DEGREE = """
WITH e AS (
  SELECT DISTINCT l_partkey AS u, l_suppkey + 10000000 AS v
  FROM lineitem WHERE l_partkey <> l_suppkey + 10000000),
sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
nn AS (SELECT count(DISTINCT u) AS n FROM sym)
SELECT u AS node, count(*) AS degree,
       CAST(floor(count(*) * 1000000.0 /
            greatest((SELECT n FROM nn) - 1, 1)) AS BIGINT)
           AS centrality_micro
FROM sym GROUP BY u
"""


def q_centrality_delta(spark, sf_dir):
    """(after-before)/(before+1) node gains
    (calculate_network_change.py:17-54): degree before/after a ship-date
    cut, integer micro-units."""
    li = _t(spark, sf_dir, "lineitem")

    def degrees(df):
        e = (df.select(F.col("l_partkey").alias("u"),
                       (F.col("l_suppkey") + 10_000_000).alias("v"))
             .distinct())
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        return sym.groupBy("u").agg(F.count("*").alias("deg"))

    before = degrees(li.filter(F.col("l_shipdate") < "1998-01-01"))
    after = degrees(li)
    return (before.select(F.col("u").alias("node"),
                          F.col("deg").alias("_b"))
            .join(after.select(F.col("u").alias("node"),
                               F.col("deg").alias("_a")), "node", "outer")
            .select("node",
                    F.floor((F.coalesce("_a", F.lit(0))
                             - F.coalesce("_b", F.lit(0)))
                            * 1_000_000
                            / (F.coalesce("_b", F.lit(0)) + 1))
                    .cast("long").alias("gain_micro")))


SQL_DELTA = """
WITH eb AS (SELECT DISTINCT l_partkey AS u, l_suppkey + 10000000 AS v
            FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'),
ea AS (SELECT DISTINCT l_partkey AS u, l_suppkey + 10000000 AS v
       FROM lineitem),
db AS (SELECT u, count(*) AS deg FROM
       (SELECT u, v FROM eb UNION SELECT v, u FROM eb) GROUP BY u),
da AS (SELECT u, count(*) AS deg FROM
       (SELECT u, v FROM ea UNION SELECT v, u FROM ea) GROUP BY u)
SELECT COALESCE(db.u, da.u) AS node,
       CAST(floor((COALESCE(da.deg, 0) - COALESCE(db.deg, 0)) * 1000000.0
            / (COALESCE(db.deg, 0) + 1)) AS BIGINT) AS gain_micro
FROM db FULL OUTER JOIN da ON db.u = da.u
"""


def q_top_triples_by_gain(spark, sf_dir):
    """key-triple scoring: score(edge) = gain(head) + gain(tail), top-25
    (get_top_triples, calculate_network_change.py:81-133) over the
    lineitem bipartite graph with the same before/after degree gains as
    `centrality_delta`. Gains are fed in exact micro-units (integers
    carried in doubles) so the summed score hashes identically across
    engines."""
    li = _t(spark, sf_dir, "lineitem")
    # one edge per (head, tail) with rel_id = min linenumber: the
    # operator tie-breaks the top-k on (score, head, tail) only, so
    # duplicate pairs with equal score would make the k-cut ambiguous
    edges = (li.groupBy(F.col("l_partkey").alias("head_id"),
                        (F.col("l_suppkey") + 10_000_000).alias("tail_id"))
             .agg(F.min("l_linenumber").alias("rel_id")))
    gains = q_centrality_delta(spark, sf_dir).select(
        "node", F.col("gain_micro").cast("double").alias("gain"))
    top = analytics.top_triples_by_gain(edges, gains, k=25)
    return top.select("head_id", "tail_id", "rel_id",
                      F.col("score").cast("long").alias("score_micro"))


SQL_TOP_GAIN = """
WITH g AS (""" + SQL_DELTA + """),
e AS (SELECT l_partkey AS head_id,
             l_suppkey + 10000000 AS tail_id,
             min(l_linenumber) AS rel_id
      FROM lineitem GROUP BY 1, 2)
SELECT e.head_id, e.tail_id, e.rel_id,
       CAST(gh.gain_micro + gt.gain_micro AS BIGINT) AS score_micro
FROM e JOIN g gh ON e.head_id = gh.node
       JOIN g gt ON e.tail_id = gt.node
ORDER BY score_micro DESC, e.head_id ASC, e.tail_id ASC
LIMIT 25
"""


def q_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textops.token_count(F.col("text")).alias("n_tokens"),
        textops.bpe_token_count(F.col("text")).alias("n_bpe"),
        textops.char_sum(F.col("text")).alias("n_chars"))


SQL_TOKEN_COUNT = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
            AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
            AS INT) AS n_bpe,
       CAST(list_sum(list_transform(
            list_filter(string_split(text, ' '), t -> t <> ''),
            t -> length(t))) AS INT) AS n_chars
FROM documents
"""


def q_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textops.token_count(F.col("text")).alias("n_tokens"),
        textops.stopword_count(F.col("text")).alias("n_stopwords"),
        textops.digit_token_count(F.col("text")).alias("n_digit_tokens"))


SQL_QUALITY = f"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
            AS INT) AS n_tokens,
       CAST(len(list_filter(string_split(lower(text), ' '),
            t -> t <> '' AND t IN {STOP_SQL})) AS INT) AS n_stopwords,
       CAST(len(list_filter(string_split(text, ' '),
            t -> t <> '' AND regexp_matches(t, '[0-9]'))) AS INT)
           AS n_digit_tokens
FROM documents
"""


def q_langid(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       textops.langid(F.col("text")).alias("lang_pred"))


def _langid_sql() -> str:
    score = {lang: (f"len(list_filter(string_split(lower(text), ' '), "
                    f"t -> t IN ('" + "','".join(m) + "')))")
             for lang, m in sorted(textops.LANG_MARKERS.items())}
    greatest = "greatest(" + ", ".join(score.values()) + ")"
    case = "CASE "
    for lang in sorted(score):  # earlier langs win ties
        case += (f"WHEN {score[lang]} = {greatest} AND {greatest} > 0 "
                 f"THEN '{lang}' ")
    case += "ELSE 'und' END"
    return f"SELECT doc_id, {case} AS lang_pred FROM documents"


def q_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textops.fingerprint(F.col("text")).alias("fp"))


SQL_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(list_slice(
           list_filter(string_split(text, ' '), t -> t <> ''), 1, 5), ' '))
           AS fp
FROM documents
"""


def q_text_signals(spark, sf_dir):
    """All per-row text-analysis signals in ONE projection: token /
    BPE-pretoken / char counts, stopword + digit-token counts
    (quality), language ID, prefix fingerprint. Consolidates the
    former token_count / quality_score / langid / fingerprint entries
    (one driver row grades all six operators; each still has its own
    pytest) — and one pass over the corpus is also the 100 TB shape:
    these signals should never cost four scans."""
    docs = _t(spark, sf_dir, "documents")
    return textops.text_signals(docs)


def _text_signals_sql() -> str:
    lang_case = _langid_sql().split("SELECT doc_id, ", 1)[1] \
        .rsplit(" AS lang_pred FROM documents", 1)[0]
    return rf"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
            AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{{L}}+| ?\p{{N}}+| ?[^\s\p{{L}}\p{{N}}]+|\s+'))
            AS INT) AS n_bpe,
       CAST(list_sum(list_transform(
            list_filter(string_split(text, ' '), t -> t <> ''),
            t -> length(t))) AS INT) AS n_chars,
       CAST(len(list_filter(string_split(lower(text), ' '),
            t -> t <> '' AND t IN {STOP_SQL})) AS INT) AS n_stopwords,
       CAST(len(list_filter(string_split(text, ' '),
            t -> t <> '' AND regexp_matches(t, '[0-9]'))) AS INT)
           AS n_digit_tokens,
       {lang_case} AS lang_pred,
       md5(array_to_string(list_slice(
           list_filter(string_split(text, ' '), t -> t <> ''), 1, 5), ' '))
           AS fp
FROM documents
"""


def q_exact_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dup_groups(docs)


SQL_EXACT_DEDUP = """
SELECT md5(text) AS content_hash, min(doc_id) AS keeper,
       count(*) AS n_dups
FROM documents GROUP BY md5(text) HAVING count(*) > 1
"""


def q_minhash_signature(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures_agg(docs, k=4, n=3)
    return sigs.select("doc_id",
                       F.concat_ws("|", "sig").alias("minhash_sig"))


def _minhash_sql(k: int = 4, n: int = 3) -> str:
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    sh = (f"CASE WHEN len({toks}) < {n} "
          f"THEN [array_to_string({toks}, ' ')] "
          f"ELSE list_transform(generate_series(1, len({toks}) - {n - 1}), "
          f"i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]) END")
    mins = [f"list_min(list_transform({sh}, s -> md5('{i}:' || s)))"
            for i in range(k)]
    return (f"SELECT doc_id, " + " || '|' || ".join(mins)
            + " AS minhash_sig FROM documents")


def q_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", dedup.simhash_bits(F.col("text"), 16).alias("simhash"))


def _simhash_sql(n_bits: int = 16) -> str:
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    bits = []
    for b in range(n_bits):
        s = (f"list_sum(list_transform({toks}, t -> CASE WHEN "
             f"substring(md5(t), {b + 1}, 1) IN {_ODD} "
             f"THEN 1 ELSE -1 END))")
        bits.append(f"CASE WHEN {s} > 0 THEN '1' ELSE '0' END")
    return f"SELECT doc_id, {' || '.join(bits)} AS simhash FROM documents"


def q_ngram_jaccard(spark, sf_dir):
    """pairwise n-gram Jaccard between consecutive doc ids (linear pair
    set; the quadratic variant is LSH-bounded in dedup.minhash_dup_pairs).
    Shingle arrays are materialized BEFORE the join (the exchange stores
    them), so intersect/union don't recompute the shingling 4x."""
    docs = _t(spark, sf_dir, "documents")
    # shingles hashed to longs: 8-byte compares in the intersect and a
    # ~4x smaller exchange than shipping the shingle strings; set
    # counts are hash-collision-exact on this corpus (verified vs the
    # string-based DuckDB twin at sf0.001/0.01/0.1)
    sh = F.array_distinct(
        F.transform(dedup.shingles(F.col("text"), 3),
                    lambda s: F.xxhash64(s)))
    # materialize the shingled table ONCE — the two join branches of a
    # lazy plan would each recompute the shingling (the query is
    # shingle-compute-bound: 9.2s → 5.0s at sf0.1). At cluster scale
    # this materialization is a staged/persisted table, same shape.
    sh_df = stage(docs.select("doc_id", sh.alias("s")))
    a = sh_df.select(F.col("doc_id").alias("a"), F.col("s").alias("sa"))
    b = sh_df.select((F.col("doc_id") - 1).alias("a"),
                     F.col("doc_id").alias("b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    # |A ∪ B| = |A| + |B| − |A ∩ B| — skips materializing the union
    union = F.size("sa") + F.size("sb") - inter
    jac = F.when(union == 0, F.lit(0)).otherwise(
        F.floor(inter * 10_000 / union)).cast("long")
    return a.join(b, "a").select("a", "b", jac.alias("jaccard_e4"))


def _jaccard_sql(n: int = 3) -> str:
    def sh(col):
        toks = f"list_filter(string_split({col}, ' '), t -> t <> '')"
        return (f"list_distinct(CASE WHEN len({toks}) < {n} "
                f"THEN [array_to_string({toks}, ' ')] "
                f"ELSE list_transform(generate_series(1, len({toks}) - {n - 1}), "
                f"i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]) "
                f"END)")
    return f"""
WITH pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, x.text AS ta, y.text AS tb
  FROM documents x JOIN documents y ON y.doc_id = x.doc_id + 1)
SELECT a, b,
       CAST(CASE WHEN len(list_distinct({sh('ta')} || {sh('tb')})) = 0 THEN 0
            ELSE floor(len(list_intersect({sh('ta')}, {sh('tb')})) * 10000.0
                 / len(list_distinct({sh('ta')} || {sh('tb')}))) END
            AS BIGINT) AS jaccard_e4
FROM pairs
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher-rule repetition filtering signal: per-document fraction
    of repeated token 3- and 5-grams (e4 units) — boilerplate-heavy
    pages score high and get dropped in web-pipeline curation."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textops.dup_ngram_fraction(F.col("text"), 3).alias("dup3_e4"),
        textops.dup_ngram_fraction(F.col("text"), 5).alias("dup5_e4"))


def _dup_sql(n: int) -> str:
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    grams = (f"CASE WHEN len({toks}) < {n} "
             f"THEN [array_to_string({toks}, ' ')] "
             f"ELSE list_transform(generate_series(1, len({toks}) - {n - 1}), "
             f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')) END")
    return (f"CASE WHEN len({grams}) <= 0 THEN 0 ELSE "
            f"CAST(floor((len({grams}) - len(list_distinct({grams})))"
            f" * 10000 / len({grams})) AS BIGINT) END")


SQL_REPETITION = f"""
SELECT doc_id,
       {_dup_sql(3)} AS dup3_e4,
       {_dup_sql(5)} AS dup5_e4
FROM documents
"""


def q_domain_cap(spark, sf_dir):
    """RefinedWeb-style source curation: drop a source blocklist, cap
    each source at 5 documents (earliest doc_id first) — the
    per-source cap that stops one host dominating a crawl-derived
    training set. Keyed on the driver table's `source` column (the
    URL-domain variant of the same operators is pytest-covered on the
    url-bearing synthetic corpus)."""
    docs = _t(spark, sf_dir, "documents")
    kept = textops.filter_blocklist(docs, ["src1", "src3"],
                                    key=F.col("source"))
    capped = textops.cap_per_domain(kept, 5, key=F.col("source"))
    return capped.select("doc_id", F.col("source").alias("domain"))


SQL_DOMAIN_CAP = """
WITH d AS (
  SELECT doc_id, source AS domain FROM documents
  WHERE source NOT IN ('src1', 'src3')),
r AS (SELECT doc_id, domain,
             row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
      FROM d)
SELECT doc_id, domain FROM r WHERE rn <= 5
"""


def q_lm_quality(spark, sf_dir):
    """CCNet-style LM quality filtering: an add-one-smoothed bigram LM
    is trained on the even-doc_id half of the corpus (the 'reference
    slice'), every document is scored by mean log P(w2|w1) — the
    curation signal web pipelines threshold on. Both training and
    scoring replayed fully in SQL by the oracle."""
    docs = _t(spark, sf_dir, "documents")
    lm = textops.train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return textops.lm_score(docs, lm)


SQL_LM_QUALITY = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
  FROM documents),
train AS (SELECT ts FROM tok WHERE doc_id % 2 = 0),
bg_train AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2
  FROM train, LATERAL unnest(generate_series(1, len(ts) - 1)) AS t(i)),
bigrams AS (SELECT w1, w2, count(*) AS c2 FROM bg_train GROUP BY 1, 2),
unigrams AS (
  SELECT w1, count(*) AS c1
  FROM (SELECT unnest(ts) AS w1 FROM train) GROUP BY 1),
v AS (SELECT count(*) AS n FROM unigrams),
bg_all AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM tok, LATERAL unnest(generate_series(1, len(ts) - 1)) AS t(i)),
j AS (
  SELECT bg_all.doc_id,
         ln((COALESCE(c2, 0) + 1.0)
            / (COALESCE(c1, 0) + (SELECT CAST(n AS DOUBLE) FROM v))) AS lp
  FROM bg_all
  LEFT JOIN bigrams USING (w1, w2)
  LEFT JOIN unigrams USING (w1)),
agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS s
        FROM j GROUP BY doc_id)
SELECT tok.doc_id,
       CAST(COALESCE(agg.n_bigrams, 0) AS INT) AS n_bigrams,
       CAST(CASE WHEN COALESCE(agg.n_bigrams, 0) = 0 THEN 0
            ELSE floor(agg.s * 10000 / agg.n_bigrams) END AS BIGINT)
           AS lm_score_e4
FROM tok LEFT JOIN agg USING (doc_id)
"""


def q_curation_pipeline(spark, sf_dir):
    """END-TO-END web-curation pipeline — the individually-oracled
    stages composed into one flow (RefinedWeb/CCNet/Gopher shape):
    source blocklist → per-source cap (10) → bigram-LM quality
    threshold (trained on the even-doc_id half of the capped set,
    keep lm_score_e4 ≥ −34500) → repeated-3-gram filter (< 500 e4)
    → MinHash-LSH dedup (drop the higher doc_id of each candidate
    pair). Proves the curation operators compose; the DuckDB twin
    replays every stage in SQL. Thresholds sit >2.7e-4 from floor
    boundaries at sf0.01 (checked at freeze time).

    Scale shape: broadcast anti-join → keyed window → two bounded aggs
    + one (w1,w2) equi-join → pure Column expr → band-bucket
    equi-join; survivors staged once (``stage``) so the dedup
    branch and the output branch don't recompute the LM pipeline."""
    from multivac_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    kept = textops.filter_blocklist(docs, ["src1", "src3"],
                                    key=F.col("source"))
    # staged once: capped feeds THREE branches — the
    # LM training slice, the scoring pass, and the quality join — and
    # each lazily re-ran the blocklist anti-join + per-source window
    # (guide §2.4: one exchange, reused; at cluster scale this is the
    # staged post-cap table every curation stage reads)
    capped = stage(textops.cap_per_domain(kept, 10, key=F.col("source")))
    lm = textops.train_bigram_lm(capped.filter(F.col("doc_id") % 2 == 0))
    # scored is NOT checkpointed (r7): with `capped` staged and
    # `survivors` checkpointed right below, the scoring pass runs
    # exactly once inside the survivors job — the r5-era ckpt only
    # guarded against double evaluation that no longer exists, and
    # dropping it removes one materialization job (A/B: faster, and
    # the doc_id join is AQE-planned from the real shuffle sizes)
    scored = (textops.lm_score(capped, lm)
              .select("doc_id", "lm_score_e4"))
    quality = (capped.join(scored, "doc_id")
               .withColumn("dup3_e4",
                           textops.dup_ngram_fraction(F.col("text"), 3)))
    survivors = stage(quality.filter(
        (F.col("lm_score_e4") >= -34500)
        & (F.col("dup3_e4") < 500)))
    pairs = dedup.minhash_dup_pairs(survivors, bands=4, rows=2)
    out = survivors.join(
        pairs.select(F.col("b").alias("doc_id")).distinct(),
        "doc_id", "left_anti")
    return out.select("doc_id", F.col("source").alias("domain"),
                      "lm_score_e4", "dup3_e4")


def _curation_pipeline_sql(bands: int = 4, rows: int = 2, n: int = 3) -> str:
    """Full-SQL DuckDB twin of q_curation_pipeline: every stage —
    blocklist, cap, LM train+score, repetition, MinHash banding —
    replayed over the same documents view."""
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    sh = (f"CASE WHEN len({toks}) < {n} "
          f"THEN [array_to_string({toks}, ' ')] "
          f"ELSE list_transform(generate_series(1, len({toks}) - {n - 1}), "
          f"i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]) END")
    mins = [f"list_min(list_transform({sh}, s -> md5('{i}:' || s))) AS mh{i}"
            for i in range(bands * rows)]
    band_selects = []
    for b in range(bands):
        key = " || '|' || ".join(f"mh{b * rows + r}" for r in range(rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {key} AS bkey FROM sigs")
    banded = " UNION ALL ".join(band_selects)
    g3 = (f"CASE WHEN len(ts3) < {n} THEN [array_to_string(ts3, ' ')] "
          f"ELSE list_transform(generate_series(1, len(ts3) - {n - 1}), "
          f"i -> array_to_string(ts3[i:i+{n - 1}], ' ')) END")
    return f"""
WITH kept0 AS (
  SELECT doc_id, source AS domain, text FROM documents
  WHERE source NOT IN ('src1', 'src3')),
capped AS (
  SELECT doc_id, domain, text FROM (
    SELECT *, row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
    FROM kept0) WHERE rn <= 10),
tok AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
  FROM capped),
train AS (SELECT ts FROM tok WHERE doc_id % 2 = 0),
bg_train AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2
  FROM train, LATERAL unnest(generate_series(1, len(ts) - 1)) AS t(i)),
bigrams AS (SELECT w1, w2, count(*) AS c2 FROM bg_train GROUP BY 1, 2),
unigrams AS (
  SELECT w1, count(*) AS c1
  FROM (SELECT unnest(ts) AS w1 FROM train) GROUP BY 1),
v AS (SELECT count(*) AS nv FROM unigrams),
bg_all AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM tok, LATERAL unnest(generate_series(1, len(ts) - 1)) AS t(i)),
j AS (
  SELECT bg_all.doc_id,
         ln((COALESCE(c2, 0) + 1.0)
            / (COALESCE(c1, 0) + (SELECT CAST(nv AS DOUBLE) FROM v))) AS lp
  FROM bg_all
  LEFT JOIN bigrams USING (w1, w2)
  LEFT JOIN unigrams USING (w1)),
agg AS (SELECT doc_id, count(*) AS nb, sum(lp) AS s FROM j GROUP BY doc_id),
scored AS (
  SELECT capped.doc_id, capped.domain, capped.text,
         CAST(CASE WHEN COALESCE(agg.nb, 0) = 0 THEN 0
              ELSE floor(agg.s * 10000 / agg.nb) END AS BIGINT)
             AS lm_score_e4
  FROM capped LEFT JOIN agg ON capped.doc_id = agg.doc_id),
quality AS (
  SELECT doc_id, domain, text, lm_score_e4,
         (SELECT CASE WHEN len(g3) <= 0 THEN 0
                 ELSE CAST(floor((len(g3) - len(list_distinct(g3)))
                           * 10000 / len(g3)) AS BIGINT) END
          FROM (SELECT {g3} AS g3
                FROM (SELECT list_filter(string_split(quality0.text, ' '),
                                         t -> t <> '') AS ts3))) AS dup3_e4
  FROM scored AS quality0),
survivors AS (
  SELECT doc_id, domain, text, lm_score_e4, dup3_e4 FROM quality
  WHERE lm_score_e4 >= -34500 AND dup3_e4 < 500),
sigs AS (SELECT doc_id, {', '.join(mins)} FROM survivors),
banded AS ({banded}),
dups AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
SELECT doc_id, domain, lm_score_e4, dup3_e4 FROM survivors
WHERE doc_id NOT IN (SELECT b FROM dups)
"""


def q_pii_scrub(spark, sf_dir):
    """C4-style PII scrubbing (textops.scrub_pii/pii_count): each doc
    is augmented with a deterministic email + IPv4 + phone built from
    its doc_id (the driver corpus carries no PII), scrubbed with the
    chained typed-placeholder regexes, and audited. Pure Column
    regexp chain — JVM-side, no shuffle; the oracle replays the same
    RE2-compatible patterns."""
    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 10.0."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".7 call +1 (555) 010-"),
        (F.col("doc_id") % 9000 + 1000).cast("string"), F.lit(" now"))
    return docs.select("doc_id",
                       textops.scrub_pii(aug).alias("scrubbed"),
                       textops.pii_count(aug).alias("n_pii"))


def _pii_sql() -> str:
    # DuckDB single-quoted strings are NOT backslash-escaped: the
    # pattern goes in verbatim (only quotes doubled)
    pats = [(p.replace("'", "''"), r) for _k, p, r in textops.PII_PATTERNS]
    aug = ("text || ' contact user' || CAST(doc_id AS VARCHAR) || "
           "'@mail.example.com or 10.0.' || "
           "CAST(doc_id % 200 AS VARCHAR) || "
           "'.7 call +1 (555) 010-' || "
           "CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' now'")
    t0 = "t0"
    scrub_cols, count_terms, cur = [], [], t0
    for i, (pat, repl) in enumerate(pats):
        count_terms.append(f"len(regexp_extract_all({cur}, '{pat}'))")
        nxt = f"t{i + 1}"
        scrub_cols.append(
            f"regexp_replace({cur}, '{pat}', '{repl}', 'g') AS {nxt}")
        cur = nxt
    return f"""
WITH aug AS (SELECT doc_id, {aug} AS t0 FROM documents),
s1 AS (SELECT doc_id, t0, {scrub_cols[0]} FROM aug),
s2 AS (SELECT doc_id, t0, t1, {scrub_cols[1]} FROM s1),
s3 AS (SELECT doc_id, t0, t1, t2, {scrub_cols[2]} FROM s2)
SELECT doc_id, t3 AS scrubbed,
       CAST({' + '.join(count_terms)} AS BIGINT) AS n_pii
FROM s3
"""


def q_boilerplate_lines(spark, sf_dir):
    """RefinedWeb-style line-wise boilerplate removal
    (textops.remove_common_lines): docs are augmented with a
    per-source subscribe banner and a 3-way promo line (both cross-doc
    common) around the unique body + a unique ref line; lines in ≥5
    docs are dropped and the document is rebuilt in original line
    order. One count-distinct agg + broadcast anti-join + one ordered
    rebuild — never pairwise."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(F.lit("subscribe to "), F.col("source"),
                 F.lit(" newsletter | promo "),
                 (F.col("doc_id") % 3).cast("string"),
                 F.lit(" | "), F.col("text"), F.lit(" | ref "),
                 F.col("doc_id").cast("string")).alias("text"))
    return textops.remove_common_lines(aug, min_docs=5, sep=" | ")


SQL_BOILERPLATE = """
WITH aug AS (
  SELECT doc_id,
         'subscribe to ' || source || ' newsletter | promo '
           || CAST(doc_id % 3 AS VARCHAR) || ' | ' || text
           || ' | ref ' || CAST(doc_id AS VARCHAR) AS t
  FROM documents),
lines AS (
  SELECT doc_id, i AS idx, ls[i] AS line
  FROM (SELECT doc_id, string_split(t, ' | ') AS ls FROM aug),
       LATERAL unnest(generate_series(1, len(ls))) AS u(i)),
common AS (
  SELECT line FROM lines GROUP BY line
  HAVING count(DISTINCT doc_id) >= 5),
kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM common))
SELECT doc_id, string_agg(line, ' | ' ORDER BY idx) AS text,
       CAST(count(*) AS BIGINT) AS n_lines_kept
FROM kept GROUP BY doc_id
"""


def q_decontaminate(spark, sf_dir):
    """benchmark decontamination (textops.decontaminate): docs sharing
    ANY token 8-gram with the 'benchmark' slice (doc_id % 50 = 0) are
    dropped. Shingle-keyed equi-join against the broadcast benchmark
    gram set + one anti-join — never a pairwise comparison."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return (textops.decontaminate(docs, bench, n=8)
            .select("doc_id", "source"))


def _decontaminate_sql(n: int = 8) -> str:
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    grams = (f"CASE WHEN len({toks}) < {n} "
             f"THEN [array_to_string({toks}, ' ')] "
             f"ELSE list_transform(generate_series(1, len({toks}) - {n - 1}),"
             f" i -> array_to_string({toks}[i:i+{n - 1}], ' ')) END")
    return f"""
WITH grams AS (
  SELECT doc_id, unnest(list_distinct({grams})) AS g FROM documents),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
contaminated AS (
  SELECT DISTINCT doc_id FROM grams WHERE g IN (SELECT g FROM bench))
SELECT doc_id, source FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


# training-mix reweighting rates (curation metadata; oracle replays
# the identical md5-hex/2^32 uniform draw — no RNG, engine-portable)
_MIX_RATES = {"src0": 0.9, "src1": 0.6, "src2": 0.3, "src3": 0.05}
_MIX_DEFAULT = 0.15


def q_mixture_sample(spark, sf_dir):
    """deterministic corpus-mixture sampling (textops.mixture_sample):
    keep each doc with its source's target rate via the md5-derived
    uniform draw on doc_id. Broadcast rates join + one narrow filter;
    identical keep-set on every run, engine, and partitioning."""
    docs = _t(spark, sf_dir, "documents")
    return (textops.mixture_sample(docs, _MIX_RATES,
                                   default_rate=_MIX_DEFAULT)
            .select("doc_id", "source"))


def _mixture_sql() -> str:
    vals = ", ".join(f"('{k}', {v})" for k, v in _MIX_RATES.items())
    return f"""
WITH r AS (SELECT * FROM (VALUES {vals}) AS t(source, rate)),
j AS (SELECT d.doc_id, d.source, COALESCE(r.rate, {_MIX_DEFAULT}) AS rate
      FROM documents d LEFT JOIN r USING (source))
SELECT doc_id, source FROM j
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      / 4294967296.0 < rate
"""


# shared 60-token "license block" appended to every 7th doc — the
# repeated-substring fixture for the Lee-et-al.-shape span dedup
_LICENSE_BLOCK = " ".join(f"lic{i}" for i in range(60))


def q_repeated_spans(spark, sf_dir):
    """exact substring-level dedup (dedup.remove_repeated_spans — the
    'Deduplicating Training Data' fixed-window shape): every 7th doc
    carries the same appended 60-token license block; every 50-token
    window occurring more than once corpus-wide is removed from all
    but its canonical (min doc_id, pos) occurrence, so the block
    survives only in doc 0 and every other carrier loses exactly its
    60 block tokens. The pass ALSO catches the driver corpus's own
    planted containment duplicates (e.g. sf0.01 doc 185 is a full
    substring of doc 61 — such docs dedup to ZERO kept tokens and
    emit (id, '', n_tokens) rather than vanishing: a curation flow
    must keep the corpus row so downstream joins/lineage don't lose
    ids silently, in both engines). Gram keys are md5 content hashes
    — uniform, no skew; the oracle replays the whole flow in SQL."""
    from multivac_spark.operators.dedup import remove_repeated_spans

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" " + _LICENSE_BLOCK)))
        .otherwise(F.col("text")).alias("text"))
    return remove_repeated_spans(aug, span=50)


def _repeated_spans_sql(span: int = 50) -> str:
    return f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' {_LICENSE_BLOCK}'
              ELSE text END AS t
  FROM documents),
toks AS (
  SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '') AS ts
  FROM aug),
grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(ts[i:i+{span - 1}], ' ')) AS g
  FROM toks, LATERAL unnest(generate_series(1, len(ts) - {span - 1}))
       AS u(i)
  WHERE len(ts) >= {span}),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
canon AS (
  SELECT g, doc_id AS kd, pos AS kp FROM (
    SELECT g, doc_id, pos,
           row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
    FROM grams WHERE g IN (SELECT g FROM dup)) WHERE rn = 1),
removed AS (
  SELECT gr.doc_id, gr.pos
  FROM grams gr JOIN canon USING (g)
  WHERE NOT (gr.doc_id = canon.kd AND gr.pos = canon.kp)),
covered AS (
  SELECT DISTINCT doc_id, pos + j - 1 AS cp
  FROM removed, LATERAL unnest(generate_series(1, {span})) AS v(j)),
tokpos AS (
  SELECT doc_id, i AS cp, ts[i] AS tok, len(ts) AS n
  FROM toks, LATERAL unnest(generate_series(1, len(ts))) AS u(i)),
kept AS (
  SELECT t.doc_id, t.cp, t.tok, t.n
  FROM tokpos t LEFT JOIN covered c
    ON t.doc_id = c.doc_id AND t.cp = c.cp
  WHERE c.cp IS NULL),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY cp) AS text,
         count(*) AS nk
  FROM kept GROUP BY doc_id)
SELECT t.doc_id, COALESCE(a.text, '') AS text,
       CAST(len(t.ts) - COALESCE(a.nk, 0) AS BIGINT) AS n_tokens_removed
FROM toks t LEFT JOIN agg a USING (doc_id)
"""




# trained quality classifier (operators/quality_clf.py — the
# CCNet/GPT-3/LLaMA curation stage): hashed-feature logistic
# regression trained on the sf0.01 corpus with deterministic
# label-marker augmentation (y = doc_id % 2). _QCLF_W is the FROZEN
# weight vector from the bit-deterministic trainer (dim=64, epochs=38,
# lr=2.0 — epochs chosen so every floor(p*1e4) sits >1e-3 from an
# integer boundary); re-derivation is pinned by
# tests/test_quality_clf.py::test_frozen_entry_weights_rederive, and
# the SCORING path replays fully in SQL (list_reduce fold in token
# order — arithmetic-identical to the Column aggregate).
_QCLF_DIM = 64
_QCLF_EPOCHS = 38
_QCLF_W = [0.034996294028, -0.040420548048, 0.0, 0.0, 0.0, 0.06542842717200001, 0.0, 0.0, 0.0, -0.4364600956960001, -0.04787777486000001, 0.0, 0.020032641215999996, 0.019461685828, -0.009439139212, 0.0, 0.0, 0.39564665762800005, 0.39564665762800005, -0.031708262344, 0.0, -0.4364600956960001, 0.0055567030040000005, 0.056067193139999985, 0.39564665762800005, 0.013995371139999997, 0.0, -0.022806982872, 0.0, 0.0, -0.028292936872, 0.04354386764, 0.04548234078, 0.0, 0.0, 0.0, 0.03194990342, 0.0, 0.0, 0.010593048660000002, 0.0, 0.07725611567200001, 0.0, 0.0, 0.0, -0.03352782347199999, 0.0, 0.0, 0.013486711535999998, 0.02007257436, 0.0, 0.0, 0.0, -0.4364600956960001, 0.0, -0.034132338396, -0.09446302707600002, 0.074403487788, -0.035291318688, 0.0, 0.0, -0.02963719227999999, 0.0, 0.0, 0.002288709248]


def _qclf_aug(docs):
    return docs.select(
        "doc_id",
        (F.col("doc_id") % 2).cast("int").alias("y"),
        F.when(F.col("doc_id") % 2 == 1,
               F.concat(F.col("text"),
                        F.lit(" premium curated prose review")))
        .otherwise(F.concat(F.col("text"),
                            F.lit(" spam clickbait listicle tricks")))
        .alias("text"))


def q_quality_classifier(spark, sf_dir):
    """trained-quality-classifier scoring: σ(w·x) over L1-normalized
    hashed bag-of-tokens with the frozen deterministic-GD weights —
    one narrow Column pass, no UDF, no shuffle."""
    import numpy as np

    from multivac_spark.operators import quality_clf as qc

    docs = _t(spark, sf_dir, "documents")
    aug = _qclf_aug(docs)
    return qc.quality_scores(aug, np.array(_QCLF_W), dim=_QCLF_DIM)


def _quality_clf_sql() -> str:
    w_list = "[" + ", ".join(f"CAST({v!r} AS DOUBLE)"
                             for v in _QCLF_W[:_QCLF_DIM]) + "]"
    bias = repr(_QCLF_W[_QCLF_DIM])
    bucket = ("(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) "
              f"% {_QCLF_DIM})")
    return f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 1
              THEN text || ' premium curated prose review'
              ELSE text || ' spam clickbait listicle tricks' END AS t
  FROM documents),
toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(t), ' '), x -> x <> '') AS ts
  FROM aug),
scored AS (
  SELECT doc_id,
         CASE WHEN len(ts) > 0 THEN
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(ts,
                 t -> {w_list}[{bucket} + 1])),
             (a, b) -> a + b) / len(ts)
         ELSE CAST(0.0 AS DOUBLE) END + {bias} AS z
  FROM toks)
SELECT doc_id,
       CAST(floor(1.0 / (1.0 + exp(-z)) * 10000) AS BIGINT)
           AS quality_e4
FROM scored
"""


def q_query_match(spark, sf_dir):
    """cosine theta-join of the query-mapping path (get_answers,
    map_queries.py:153-226) — the REAL query.match_parts operator
    (mention_embeddings → broadcast crossJoin → cosine ≥ threshold →
    per-part best with (sim desc, entity asc) tie-break) driven over
    the driver embeddings table: vec_id<8 act as single-token query
    parts, vec_id≥8 as candidate entities, so the DuckDB twin can
    replay the whole match in SQL."""
    from multivac_spark.operators import query as qops

    emb = _t(spark, sf_dir, "embeddings")
    tok = emb.filter("vec_id < 8").select(
        F.concat(F.lit("t"), F.col("vec_id")).alias("token"),
        F.col("embedding").alias("vector"))
    parts = emb.filter("vec_id < 8").select(
        F.concat(F.lit("t"), F.col("vec_id")).alias("q_part"))
    entity_vecs = emb.filter("vec_id >= 8").select(
        F.concat(F.lit("e"), F.col("vec_id")).alias("mention"),
        F.col("embedding").alias("vector"))
    m = qops.match_parts(parts, tok, entity_vecs, "q_part", threshold=0.0)
    return m.select("part", "entity",
                    F.floor(F.col("sim") * 1_000_000)
                    .cast("long").alias("sim_e6"))


def _dot64(a: str, b: str) -> str:
    return (f"list_sum(list_transform(range(1, 65), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")


SQL_QUERY_MATCH = f"""
WITH q AS (SELECT 't' || vec_id AS part, embedding FROM embeddings
           WHERE vec_id < 8),
e AS (SELECT 'e' || vec_id AS entity, embedding FROM embeddings
      WHERE vec_id >= 8),
s AS (SELECT q.part, e.entity,
             {_dot64('q.embedding', 'e.embedding')}
             / (sqrt({_dot64('q.embedding', 'q.embedding')})
                * sqrt({_dot64('e.embedding', 'e.embedding')})) AS sim
      FROM q CROSS JOIN e),
r AS (SELECT part, entity, sim,
             row_number() OVER (PARTITION BY part
                                ORDER BY sim DESC, entity ASC) AS rn
      FROM s WHERE sim >= 0.0)
SELECT part, entity,
       CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6
FROM r WHERE rn = 1
"""


def q_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"), "embedding"))
    res = ann.brute_force_topk(emb, queries, k=10)
    # e4 granularity for the cross-engine compare; rank recomputed on it
    from pyspark.sql import Window
    scored = res.withColumn(
        "cos_e4", F.floor(F.col("cos_sim_micro") / 100).cast("long"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_e4"),
                                           F.asc("neighbor"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("q_id", "neighbor", "rank", "cos_e4"))


SQL_ANN = """
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
           WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, c.vec_id AS neighbor,
         CAST(floor(
           list_dot_product(CAST(q.qv AS DOUBLE[]),
                            CAST(c.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                    CAST(q.qv AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))))
           * 10000) AS BIGINT) AS cos_e4
  FROM q CROSS JOIN embeddings c WHERE q.q_id <> c.vec_id),
ranked AS (
  SELECT q_id, neighbor, cos_e4,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_e4 DESC, neighbor ASC) AS rank
  FROM scored)
SELECT q_id, neighbor, rank, cos_e4 FROM ranked WHERE rank <= 10
"""


def q_embedding_near_dups(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return (dedup.embedding_near_dups(emb, threshold=0.90)
            .select("a", "b",
                    F.floor(F.col("cos_sim_micro") / 100).cast("long")
                    .alias("cos_e4")))


SQL_NEAR_DUPS = """
SELECT x.vec_id AS a, y.vec_id AS b,
       CAST(floor(
         list_dot_product(CAST(x.embedding AS DOUBLE[]),
                          CAST(y.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(x.embedding AS DOUBLE[]),
                                  CAST(x.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(y.embedding AS DOUBLE[]),
                                    CAST(y.embedding AS DOUBLE[]))))
         * 10000) AS BIGINT) AS cos_e4
FROM embeddings x JOIN embeddings y ON x.label = y.label
                  AND x.vec_id < y.vec_id
WHERE list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                             CAST(y.embedding AS DOUBLE[])) >= 0.90
"""


def q_cleaner_regex(spark, sf_dir):
    """vectorized regex cleaning (textparsing.py analog expressed as a
    single substitution both engines share)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.col("text"), "[aeiou]", "_")).alias("h"))


SQL_CLEANER = """
SELECT doc_id, md5(regexp_replace(text, '[aeiou]', '_', 'g')) AS h
FROM documents
"""


def q_tfidf(spark, sf_dir):
    """TF-IDF capability (the reference's declared-but-unwired top_tfidf
    knob, rdf_graph.py:23,49 — implemented for real here)."""
    from multivac_spark.operators.tfidf import tfidf
    return tfidf(_t(spark, sf_dir, "documents"))


SQL_TFIDF = """
WITH term AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents),
n AS (SELECT count(*) AS n_docs FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM term GROUP BY doc_id, token),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM term GROUP BY token)
SELECT tf.doc_id, tf.token, tf.tf, df.df,
       CAST(floor(tf.tf * ln(((SELECT n_docs FROM n) + 1.0) / (df.df + 1.0))
            * 1000000) AS BIGINT) AS tfidf_micro
FROM tf JOIN df ON tf.token = df.token
"""


# -- formerly rows-only; all five now carry exact oracles (VERDICT r1 #2) ---

# golden triple-set digest of the 100-doc synthetic pipeline run, pinned
# from two independent runs at local[4]/sp=8 and local[16]/sp=32 (the
# whole pipeline is deterministic under reparallelization by design:
# seeded corpus, seeded LSH planes, order-independent component-minimum
# labels, lexicographic representatives).
KG_SYNTH_N = 1309
KG_SYNTH_HASH = "b467c56201e0f4348176dc975efce743"


def q_kg_pipeline_synth(spark, sf_dir):
    """full KG construction on the synthetic corpus (sf_dir intentionally
    unused — the corpus is the pipeline's own deterministic input),
    reduced to (count, md5 over the sorted triple set) so the driver can
    hash-compare it against the pinned golden digest."""
    from multivac_spark.plans.pipeline import PipelineConfig, run_pipeline
    from multivac_spark.sources import corpus
    docs = corpus.documents_df(spark, 100)
    emb = corpus.embeddings_df(spark)
    tables = run_pipeline(spark, docs, emb,
                          PipelineConfig(top_n_ent=5000, top_n_rel=50))
    return (tables["final_triples"]
            .agg(F.count("*").alias("n_triples"),
                 F.md5(F.concat_ws("\n", F.array_sort(F.collect_list(
                     F.concat_ws("|", "subj", "pred", "obj")))))
                 .alias("set_hash")))


SQL_KG_SYNTH = (f"SELECT CAST({KG_SYNTH_N} AS BIGINT) AS n_triples, "
                f"'{KG_SYNTH_HASH}' AS set_hash")


# USP/MLN semantic clustering digest golden (operators/usp.py, round
# 6 — the pymln subsystem, SURVEY §2.6's last non-goal). Pinned from
# two independent runs at local[4]/sp=8 and local[16]/sp=32 (identical
# both times; the agenda itself runs driver-side on collected weighted
# classes, so only the Spark class-extraction/labeling pass varies
# with parallelism). Correctness anchor = tests/test_usp.py (weighted
# == expanded identity, score == ΔL, planted-behavior corpora); this
# digest pins the end-to-end flow against regressions, same pattern as
# KG_SYNTH_HASH. Greedy gates relaxed from ParseParams defaults
# (10/50 → 4/12) so MERGE and COMPOSE ops actually fire at this
# corpus size.
USP_N_CLUSTERS = 192
USP_N_LABELS = 5093
USP_LABEL_HASH = "094afe5cde1ccba568a54b5c2ad9a517"


def q_usp_clusters(spark, sf_dir):
    """USP semantic clustering end-to-end on the synthetic corpus
    (sf_dir intentionally unused — the corpus is the pipeline's own
    deterministic input): extract → clean → parse → weighted
    distinct-tree classes (Spark) → exact greedy MERGE/COMPOSE agenda
    (driver) → per-token labels (broadcast join), reduced to
    (n_clusters, n_labels, md5 over the sorted label set)."""
    from multivac_spark.functions.clean import clean_text_stage
    from multivac_spark.functions.html_text import extract_text_stage
    from multivac_spark.functions.parse import parse_stage
    from multivac_spark.operators import usp
    from multivac_spark.sources import corpus, vocab

    docs = corpus.documents_df(spark, 40)
    lex = vocab.pos_lexicon()
    lemmas = dict(vocab.verb_lemma_table())
    for c, vs in vocab.noun_variants().items():
        for v in vs:
            lemmas.setdefault(v, c)
    cleaned = clean_text_stage(extract_text_stage(docs), frozenset(lex))
    sents = parse_stage(cleaned.filter("lang = 'en'"), lex, lemmas)
    sents = stage(sents)   # parse once, reuse for labeling
    model, assignments = usp.induce_usp(
        sents, usp.UspParams(min_mc_cnt=4, min_abs_cnt=12))
    labeled = usp.assign_clusters(sents, assignments)
    return (labeled
            .agg(F.lit(len(model.clusts)).alias("n_clusters"),
                 F.count("*").alias("n_labels"),
                 F.md5(F.concat_ws("\n", F.array_sort(F.collect_list(
                     F.concat_ws("|", "url", "sent_id",
                                 F.col("i").cast("string"),
                                 F.col("clust").cast("string"))))))
                 .alias("label_hash")))


SQL_USP = (f"SELECT CAST({USP_N_CLUSTERS} AS INT) AS n_clusters, "
           f"CAST({USP_N_LABELS} AS BIGINT) AS n_labels, "
           f"'{USP_LABEL_HASH}' AS label_hash")


# golden digests for the two non-default pipeline routes, pinned the
# same way (two independent runs at local[4]/sp=8 and local[16]/sp=32,
# identical both times). These pin the Phase-II textacy extractor path
# (VERDICT r2 #5) and the coref-on path (VERDICT r2 #6). Both routes run
# the one extraction kernel (functions.fused), with the coref resolver
# and the textacy extractor inside its per-document pass; the digests
# were pinned on the staged composition it replaced, so a kernel that
# drifts from the staged operators shows in these oracles.
KG_TEXTACY_N = 1670
KG_TEXTACY_HASH = "1726bdf5f6094286b49397c6b19a60c8"
KG_COREF_N = 1302
KG_COREF_HASH = "5e1176a4b9e6946f414f9a57b6295ffe"


def _kg_digest(spark, cfg):
    from multivac_spark.plans.pipeline import run_pipeline
    from multivac_spark.sources import corpus
    docs = corpus.documents_df(spark, 100)
    emb = corpus.embeddings_df(spark)
    tables = run_pipeline(spark, docs, emb, cfg)
    return (tables["final_triples"]
            .agg(F.count("*").alias("n_triples"),
                 F.md5(F.concat_ws("\n", F.array_sort(F.collect_list(
                     F.concat_ws("|", "subj", "pred", "obj")))))
                 .alias("set_hash")))


def q_kg_pipeline_textacy(spark, sf_dir):
    """full KG construction through the Phase-II textacy-twin extractor
    (functions/svo_textacy.py, rdf_extract.py:767-833 parity), reduced
    to (count, sorted-set md5) against the pinned golden digest."""
    from multivac_spark.plans.pipeline import PipelineConfig
    return _kg_digest(spark, PipelineConfig(
        top_n_ent=5000, top_n_rel=50, extractor="textacy"))


def q_kg_pipeline_coref(spark, sf_dir):
    """full KG construction with coref resolution ON — takes the staged
    parse/extract route (coref splices resolved mentions between parse
    and extraction, functions/coref.py), digest-pinned."""
    from multivac_spark.plans.pipeline import PipelineConfig
    return _kg_digest(spark, PipelineConfig(
        top_n_ent=5000, top_n_rel=50, coref=True))


SQL_KG_TEXTACY = (f"SELECT CAST({KG_TEXTACY_N} AS BIGINT) AS n_triples, "
                  f"'{KG_TEXTACY_HASH}' AS set_hash")
SQL_KG_COREF = (f"SELECT CAST({KG_COREF_N} AS BIGINT) AS n_triples, "
                f"'{KG_COREF_HASH}' AS set_hash")


# PDF-ingest route: the same 100 seeded articles rendered as REAL
# Flate-compressed PDFs (corpus.pdf_documents_df → make_pdf with an
# arXiv-style Abstract front page and Acknowledgments trailer), decoded
# by the pure-python extractor (sources/pdftext.py, the slate/parse_pdf
# twin incl. its slicing chain) and run through the full KG pipeline.
# Digest derived from the GENERATOR'S GROUND-TRUTH text path
# (corpus.pdf_ground_truth_documents_df — the page assembly + reference
# slicing chain, no PDF decode), NOT frozen from the extraction kernel:
# a kernel-frozen golden pinned the round-3 stream-framing bug. The
# PDF-decode path reproduces this digest bit-exactly (verified
# local[8]/sp=8 ground-truth vs local[16]/sp=32 pdf-decode;
# per-url text equality pinned by tests/test_ingest_sources.py).
KG_PDF_N = 1309
KG_PDF_HASH = "b467c56201e0f4348176dc975efce743"


def q_kg_pipeline_variants(spark, sf_dir):
    """The three non-default full-pipeline routes — Phase-II textacy
    extractor, coref-on staged path, PDF-ingest — as ONE entry of
    (variant, n_triples, set_hash) rows against their pinned golden
    digests (consolidated from three single-digest entries so every
    registry entry fits the driver's 50-query grading cap; each
    variant's digest provenance is unchanged — see the per-variant
    q_ functions and golden constants above/below)."""
    rows = [
        ("textacy", q_kg_pipeline_textacy(spark, sf_dir)),
        ("coref", q_kg_pipeline_coref(spark, sf_dir)),
        ("pdf", q_kg_pipeline_pdf(spark, sf_dir)),
    ]
    out = None
    for name, df in rows:
        part = df.select(F.lit(name).alias("variant"),
                         "n_triples", "set_hash")
        out = part if out is None else out.unionByName(part)
    return out


def q_kg_pipeline_pdf(spark, sf_dir):
    """full KG construction from a PDF corpus: pdf bytes → text
    (sources/pdftext.pdf_text_stage) → pipeline → (count, sorted-set
    md5) vs the pinned golden digest. Corrupt-scan PDFs flow through
    as NULL text (the PDF analog of the no-article invariant)."""
    from multivac_spark.plans.pipeline import PipelineConfig, run_pipeline
    from multivac_spark.sources import corpus
    from multivac_spark.sources.pdftext import pdf_text_stage

    pdocs = corpus.pdf_documents_df(spark, 100)
    docs = (pdf_text_stage(pdocs, "pdf")
            .select("url", "warc_ts",
                    F.lit(None).cast("binary").alias("html"),
                    "text", "lang"))
    emb = corpus.embeddings_df(spark)
    tables = run_pipeline(spark, docs, emb,
                          PipelineConfig(top_n_ent=5000, top_n_rel=50))
    return (tables["final_triples"]
            .agg(F.count("*").alias("n_triples"),
                 F.md5(F.concat_ws("\n", F.array_sort(F.collect_list(
                     F.concat_ws("|", "subj", "pred", "obj")))))
                 .alias("set_hash")))


SQL_KG_VARIANTS = (
    "SELECT v AS variant, CAST(n AS BIGINT) AS n_triples, "
    "h AS set_hash FROM (VALUES "
    f"('textacy', {KG_TEXTACY_N}, '{KG_TEXTACY_HASH}'), "
    f"('coref', {KG_COREF_N}, '{KG_COREF_HASH}'), "
    f"('pdf', {KG_PDF_N}, '{KG_PDF_HASH}')) AS t(v, n, h)")

SQL_KG_PDF = (f"SELECT CAST({KG_PDF_N} AS BIGINT) AS n_triples, "
              f"'{KG_PDF_HASH}' AS set_hash")


# incremental KG maintenance (streaming/kg_update.py): the query runs
# the STREAMING flow — 2-drain AvailableNow ingest + foreachBatch count
# merge — over a 60/40 split of the same 100-doc corpus; the oracle
# VALUES below are frozen from the BATCH recount path (fused extract →
# explode subj+obj → groupBy count → top-10), i.e. computed by
# machinery independent of the streaming code under test. Equality
# proves exactly-once across drains: any double-merged or dropped file
# shifts a count.
_INC_COUNTS_GOLD = [
    ("virus", 125), ("cell", 51), ("protein", 33), ("genome", 30),
    ("virusoid", 24), ("virusal", 23), ("antibody", 20),
    ("pathogen", 19), ("viruses", 14), ("enzyme", 13),
]


def q_kg_incremental_counts(spark, sf_dir):
    """two-drain incremental ingest + count-merge of the 100-doc
    corpus → top-10 entity counts (streaming/kg_update.py); must equal
    the batch recount goldens."""
    import tempfile

    from multivac_spark.plans.pipeline import default_lexicons
    from multivac_spark.sources import corpus, vocab
    from multivac_spark.streaming.ingest import ingest_available_now
    from multivac_spark.operators.materialize import top_n
    from multivac_spark.streaming.kg_update import (
        counts_update_available_now, read_counts)

    lex, lemmas = default_lexicons()
    vl = vocab.verb_lemma_table()
    all_docs = corpus.documents_df(spark, 100, partitions=4)
    first = corpus.documents_df(spark, 60, partitions=4)
    with tempfile.TemporaryDirectory() as d:
        docs_dir, counts_dir = f"{d}/docs", f"{d}/counts"
        for batch in (first, all_docs.subtract(first)):
            batch.write.mode("append").parquet(docs_dir)
            ingest_available_now(spark, docs_dir, f"{d}/triples",
                                 f"{d}/ckpt_i", lex, lemmas,
                                 normalize=True, verb_lemmas=vl)
            counts_update_available_now(spark, f"{d}/triples",
                                        counts_dir, f"{d}/ckpt_c")
        top = top_n(read_counts(spark, counts_dir, "entities"), "mention", 10)
        # staged: the tmp dir dies with the `with` block, so
        # materialize before leaving it
        return stage(top)


SQL_INC_COUNTS = ("SELECT * FROM (VALUES "
                  + ", ".join(f"('{m}', CAST({c} AS BIGINT))"
                              for m, c in _INC_COUNTS_GOLD)
                  + ") AS t(mention, cnt)")


# fixed 50-node graph (ring + 3i+7 chords): eigenvector scores pinned
# against an independent numpy power-iteration twin with identical
# update/convergence arithmetic; e4 values verified ≥4e-6 away from
# floor boundaries and identical at local[4] and local[16].
_EIG_N = 50
_EIG_E4 = [1551, 1424, 1569, 1617, 1525, 1413, 1549, 1591, 1439, 1003,
           1439, 1591, 1549, 1413, 1525, 1617, 1569, 1424, 1551, 1435,
           952, 824, 824, 952, 1435, 1551, 1424, 1569, 1617, 1525,
           1413, 1549, 1591, 1439, 1003, 1439, 1591, 1549, 1413, 1525,
           1617, 1569, 1424, 1551, 1435, 952, 824, 824, 952, 1435]


def q_eigenvector_centrality(spark, sf_dir):
    """power iteration on the fixed ring+chords graph (sf-independent so
    the oracle can pin exact per-node scores); the lineitem-graph variant
    stays pytest-covered."""
    rows = ([(i, (i + 1) % _EIG_N) for i in range(_EIG_N)]
            + [(i, (3 * i + 7) % _EIG_N) for i in range(_EIG_N)])
    edges = spark.createDataFrame(rows, "head_id long, tail_id long")
    res = analytics.eigenvector_centrality(edges, max_iter=15)
    return res.select("node",
                      F.floor(F.col("score") * 10_000).cast("long")
                      .alias("score_e4"))


SQL_EIGEN = ("SELECT CAST(node AS BIGINT) AS node, "
             "CAST(score_e4 AS BIGINT) AS score_e4 FROM (VALUES "
             + ", ".join(f"({i}, {v})" for i, v in enumerate(_EIG_E4))
             + ") AS t(node, score_e4)")


# fixed 30-entity / 3-relation KG (ring, affine map, antipode):
# distributed TransE training (operators/transe.py — the OpenKE-boundary
# twin, map_queries.py:90-137) is bit-deterministic at any parallelism
# (fixed-point integer gradient aggregation), so per-triple scores are
# pinned as literals frozen from the train_transe_local twin — whose
# trajectory identity with the distributed path is pytest-asserted
# (tests/test_transe.py::test_distributed_matches_local_twin).
_TRANSE_N_ENT, _TRANSE_N_REL = 30, 3
_TRANSE_EPOCHS, _TRANSE_DIM, _TRANSE_LR = 25, 16, 0.5
_TRANSE_PINNED = [
    (0, 0, 1, 228550), (0, 1, 3, 213199), (0, 2, 15, 323835),
    (1, 0, 2, 236678), (1, 1, 10, 219131), (1, 2, 16, 287047),
    (2, 0, 3, 233765), (2, 1, 17, 230816), (2, 2, 17, 309953),
    (3, 0, 4, 247853), (3, 1, 24, 233266), (3, 2, 18, 311354),
    (4, 0, 5, 237498), (4, 1, 1, 236948), (4, 2, 19, 296195),
    (5, 0, 6, 225914), (5, 1, 8, 223601), (5, 2, 20, 308854),
    (6, 0, 7, 248279), (6, 1, 15, 224160), (6, 2, 21, 296731),
    (7, 0, 8, 231311), (7, 1, 22, 231513), (7, 2, 22, 323424),
    (8, 0, 9, 235739), (8, 1, 29, 227632), (8, 2, 23, 310676),
    (9, 0, 10, 230618), (9, 1, 6, 218648), (9, 2, 24, 304873),
    (10, 0, 11, 239046), (10, 1, 13, 230634), (10, 2, 25, 299671),
    (11, 0, 12, 233305), (11, 1, 20, 224444), (11, 2, 26, 311465),
    (12, 0, 13, 242373), (12, 1, 27, 230245), (12, 2, 27, 317099),
    (13, 0, 14, 244976), (13, 1, 4, 221804), (13, 2, 28, 312112),
    (14, 0, 15, 232673), (14, 1, 11, 212050), (14, 2, 29, 306859),
    (15, 0, 16, 228138), (15, 1, 18, 245774), (15, 2, 0, 285040),
    (16, 0, 17, 241156), (16, 1, 25, 224532), (16, 2, 1, 324041),
    (17, 0, 18, 235648), (17, 1, 2, 237017), (17, 2, 2, 328414),
    (18, 0, 19, 241229), (18, 1, 9, 223242), (18, 2, 3, 310005),
    (19, 0, 20, 234779), (19, 1, 16, 224291), (19, 2, 4, 324005),
    (20, 0, 21, 228540), (20, 1, 23, 228137), (20, 2, 5, 322024),
    (21, 0, 22, 251367), (21, 1, 0, 243437), (21, 2, 6, 317198),
    (22, 0, 23, 239239), (22, 1, 7, 239503), (22, 2, 7, 322945),
    (23, 0, 24, 232264), (23, 1, 14, 239851), (23, 2, 8, 294227),
    (24, 0, 25, 223421), (24, 1, 21, 216431), (24, 2, 9, 297639),
    (25, 0, 26, 238720), (25, 1, 28, 232125), (25, 2, 10, 315539),
    (26, 0, 27, 237262), (26, 1, 5, 221139), (26, 2, 11, 309359),
    (27, 0, 28, 245012), (27, 1, 12, 241782), (27, 2, 12, 332130),
    (28, 0, 29, 235513), (28, 1, 19, 222187), (28, 2, 13, 307832),
    (29, 0, 0, 246390), (29, 1, 26, 226622), (29, 2, 14, 300771),
]


def _transe_fixture_edges():
    n = _TRANSE_N_ENT
    return ([(i, 0, (i + 1) % n) for i in range(n)]
            + [(i, 1, (i * 7 + 3) % n) for i in range(n)]
            + [(i, 2, (i + 15) % n) for i in range(n)])


def q_transe_rank(spark, sf_dir):
    """Distributed TransE training + triple scoring on the fixed KG
    (sf-independent so the oracle can pin exact per-triple scores); the
    quality/top-k behavior is pytest-covered (tests/test_transe.py)."""
    from multivac_spark.operators import transe
    edges = spark.createDataFrame(
        [(h, t, r) for h, r, t in _transe_fixture_edges()],
        "head_id long, tail_id long, rel_id long")
    E, R = transe.train_transe(edges, _TRANSE_N_ENT, _TRANSE_N_REL,
                               dim=_TRANSE_DIM, epochs=_TRANSE_EPOCHS,
                               lr=_TRANSE_LR)
    cand = spark.createDataFrame(
        [(h, r, t) for h, r, t in _transe_fixture_edges()],
        "head_id long, rel_id long, tail_id long")
    return transe.score_triples(cand, E, R)


SQL_TRANSE = ("SELECT CAST(h AS BIGINT) AS head_id, "
              "CAST(r AS BIGINT) AS rel_id, "
              "CAST(t AS BIGINT) AS tail_id, "
              "CAST(s AS BIGINT) AS score_micro FROM (VALUES "
              + ", ".join(f"({h}, {r}, {t}, {s})"
                          for h, r, t, s in _TRANSE_PINNED)
              + ") AS t(h, r, t, s)")


# predicted_objects (transe.py:527 — the MULTIVAC_link_prediction.py:19-112
# twin): fixed 25-entity string KG (20 cities ring-linked + 5 regions),
# deterministic distributed TransE train, then substring head match
# ("city1") × every relation → top-2 tail with the reference's self-skip
# quirk → score → 10 most-plausible. VALUES frozen from the INDEPENDENT
# numpy replay of the reference loop (the same replay that pins the
# kernel in tests/test_transe_completion.py::
# test_predicted_objects_reference_replay), not from the kernel; all
# floor(1e6/(1+d)) values sit >1e-4 from integer boundaries (checked).
_PREDOBJ_PINNED = [
    ("city19", "linked_to", "city00", 500919),
    ("city14", "linked_to", "city15", 496935),
    ("city18", "linked_to", "city17", 496240),
    ("city16", "linked_to", "city15", 485650),
    ("city10", "linked_to", "city09", 484814),
    ("city11", "linked_to", "city12", 482268),
    ("city13", "linked_to", "city12", 468613),
    ("city17", "linked_to", "city16", 458944),
    ("city12", "linked_to", "city11", 452160),
    ("city15", "linked_to", "city14", 446684),
]


def q_predicted_objects(spark, sf_dir):
    """query-answering over the trained KG: the reference's
    predicted_object flow (substring match × all relations × top-2
    self-skip × most-plausible-25) on the fixed city/region KG
    (sf-independent so the replay-derived oracle pins exact rows)."""
    from multivac_spark.operators import transe
    from multivac_spark.operators.materialize import build_graph_tables

    rows = []
    for i in range(20):
        rows.append((f"city{i:02d}", "located_in", f"region{i % 5}"))
        rows.append((f"city{i:02d}", "linked_to", f"city{(i + 1) % 20:02d}"))
    kg = spark.createDataFrame(rows, "subj string, pred string, obj string")
    g = build_graph_tables(kg)
    n_ent = g["entities"].count()
    n_rel = g["relations"].count()
    E, R = transe.train_transe(g["edges"], n_ent, n_rel,
                               dim=16, epochs=40, lr=0.5)
    out = transe.predicted_objects(kg, E, R, "city1", num_top_rel=10)
    return out["top"].select("head", "rel", "tail", "score_micro")


SQL_PREDOBJ = ("SELECT h AS head, r AS rel, t AS tail, "
               "CAST(s AS BIGINT) AS score_micro FROM (VALUES "
               + ", ".join(f"('{h}', '{r}', '{t}', {s})"
                           for h, r, t, s in _PREDOBJ_PINNED)
               + ") AS t(h, r, t, s)")


def _rerank_e4(scored, k):
    """e4-granular rank (floor(micro/100) == floor(sim*1e4)): both
    engines rank on the same integers, dodging float-hash drift."""
    from pyspark.sql import Window
    s = scored.withColumn(
        "cos_e4", F.floor(F.col("cos_sim_micro") / 100).cast("long"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_e4"),
                                           F.asc("neighbor"))
    return (s.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "neighbor", "rank", "cos_e4"))


def q_ann_lsh(spark, sf_dir):
    """bucketed ANN, fully oracled: the DuckDB twin reproduces the
    entire LSH pipeline (sign-bit signatures from the same seeded
    hyperplane literals, 1-bit multi-probe, exact cosine re-rank)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"), "embedding"))
    all_cand = ann.lsh_topk(emb, queries, k=1 << 40, dim=64)
    return _rerank_e4(all_cand, k=10)


def _ann_lsh_sql(k: int = 10, n_planes: int = 6, dim: int = 64) -> str:
    from multivac_spark.operators.ann import _planes
    P = _planes(n_planes, dim)

    def dot(col, p):
        lit = "[" + ",".join(repr(float(x)) for x in p) + "]"
        return f"list_dot_product(CAST({col} AS DOUBLE[]), {lit})"

    def sig(col):
        return " || ".join(
            f"(CASE WHEN {dot(col, p)} > 0 THEN '1' ELSE '0' END)"
            for p in P)

    flips = ["sig"]
    for i in range(n_planes):
        flips.append(
            f"substring(sig, 1, {i}) || "
            f"(CASE WHEN substring(sig, {i + 1}, 1) = '1' THEN '0' "
            f"ELSE '1' END) || substring(sig, {i + 2}, {n_planes - i - 1})")
    cos = ("list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) / "
           "(sqrt(list_dot_product(CAST(qv AS DOUBLE[]), "
           "CAST(qv AS DOUBLE[]))) * "
           "sqrt(list_dot_product(CAST(cv AS DOUBLE[]), "
           "CAST(cv AS DOUBLE[]))))")
    return f"""
WITH c AS (SELECT vec_id AS neighbor, embedding AS cv,
                  {sig('embedding')} AS bkey FROM embeddings),
q0 AS (SELECT vec_id AS q_id, embedding AS qv,
              {sig('embedding')} AS sig FROM embeddings WHERE vec_id < 5),
q AS (SELECT q_id, qv, unnest([{', '.join(flips)}]) AS bkey FROM q0),
scored AS (
  SELECT q.q_id, c.neighbor,
         CAST(floor({cos} * 10000) AS BIGINT) AS cos_e4
  FROM q JOIN c USING (bkey) WHERE q.q_id <> c.neighbor),
ranked AS (
  SELECT q_id, neighbor, cos_e4,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_e4 DESC, neighbor ASC) AS rank
  FROM scored)
SELECT q_id, neighbor, rank, cos_e4 FROM ranked WHERE rank <= {k}
"""


_IVF_CENTROIDS = 16
_IVF_PROBE = 4
_IVF_DIM = 64


def q_ann_ivf(spark, sf_dir):
    """IVF ANN with the fixed seeded codebook (ann.fixed_codebook) so
    the DuckDB twin reproduces cell assignment + probing from the same
    centroid literals; the trained-k-means path stays pytest-covered."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("q_id"), "embedding"))
    C = ann.fixed_codebook(_IVF_CENTROIDS, _IVF_DIM)
    all_cand = ann.ivf_topk(emb, queries_df, k=1 << 40,
                            n_probe=_IVF_PROBE, codebook=C)
    return _rerank_e4(all_cand, k=10)


def _ann_ivf_sql(k: int = 10) -> str:
    C = ann.fixed_codebook(_IVF_CENTROIDS, _IVF_DIM)

    def cells(col):
        """list of (cell id, centroid dot) structs — argmax/argsort over
        it is scale-invariant, so raw (unnormalized) vectors are fine."""
        items = []
        for ci, c in enumerate(C):
            lit = "[" + ",".join(repr(float(x)) for x in c) + "]"
            items.append(f"struct_pack(c := {ci}, d := "
                         f"list_dot_product(CAST({col} AS DOUBLE[]), {lit}))")
        return "[" + ", ".join(items) + "]"

    cos = ("list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) / "
           "(sqrt(list_dot_product(CAST(qv AS DOUBLE[]), "
           "CAST(qv AS DOUBLE[]))) * "
           "sqrt(list_dot_product(CAST(cv AS DOUBLE[]), "
           "CAST(cv AS DOUBLE[]))))")
    return f"""
WITH cx AS (SELECT vec_id, embedding,
                   unnest({cells('embedding')}) AS s FROM embeddings),
cr AS (SELECT vec_id, embedding, s.c AS centroid,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY s.d DESC, s.c ASC) AS rn FROM cx),
c AS (SELECT vec_id AS neighbor, embedding AS cv, centroid
      FROM cr WHERE rn = 1),
qx AS (SELECT vec_id, embedding,
              unnest({cells('embedding')}) AS s FROM embeddings
       WHERE vec_id < 5),
qr AS (SELECT vec_id, embedding, s.c AS centroid,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY s.d DESC, s.c ASC) AS rn FROM qx),
q AS (SELECT vec_id AS q_id, embedding AS qv, centroid
      FROM qr WHERE rn <= {_IVF_PROBE}),
scored AS (
  SELECT DISTINCT q.q_id, c.neighbor,
         CAST(floor({cos} * 10000) AS BIGINT) AS cos_e4
  FROM q JOIN c USING (centroid) WHERE q.q_id <> c.neighbor),
ranked AS (
  SELECT q_id, neighbor, cos_e4,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_e4 DESC, neighbor ASC) AS rank
  FROM scored)
SELECT q_id, neighbor, rank, cos_e4 FROM ranked WHERE rank <= {k}
"""


def q_ann_bucketed(spark, sf_dir):
    """LSH + IVF bucketed ANN as one digest (round-6 consolidation:
    the two scale-path variants of the similarity-search row share an
    output shape, so merging them frees a registry slot under the
    driver's 50-cap). Each method's full pipeline — signatures /
    codebook cells, probing, exact-cosine re-rank — is reproduced
    independently by its half of the SQL twin."""
    lsh = q_ann_lsh(spark, sf_dir).withColumn("method", F.lit("lsh"))
    ivf = q_ann_ivf(spark, sf_dir).withColumn("method", F.lit("ivf"))
    return lsh.unionByName(ivf)


def _ann_bucketed_sql() -> str:
    return (f"SELECT 'lsh' AS method, t.* FROM ({_ann_lsh_sql()}) t "
            f"UNION ALL "
            f"SELECT 'ivf' AS method, t.* FROM ({_ann_ivf_sql()}) t")


_GLOVE_V = 50
_GLOVE_WIN = 3
_GLOVE_TOP = 200


def q_glove_cooc(spark, sf_dir):
    """The distributed GloVe co-occurrence pass (operators/
    glove_train, round 6 — the reference's trainEmbeddings.R
    boundary): top-V vocabulary by token count, windowed 1/distance
    pairs generated per-row with array HOFs (no positional
    self-join), weights int64-quantized BEFORE the groupBy sum so the
    matrix is bit-identical at any parallelism. The training stage is
    pytest-pinned (distributed == numpy-twin bit-identity,
    tests/test_glove_train.py); this entry driver-grades the corpus
    pass against an independent SQL rebuild (regexp tokenization +
    lateral position/offset expansion). Top rows by weight, total
    order (xq desc, w1, w2) so the cut is engine-independent."""
    from multivac_spark.operators import glove_train

    docs = _t(spark, sf_dir, "documents")
    vocab = glove_train.top_vocab(docs, _GLOVE_V)
    cooc = glove_train.build_cooccurrence(docs, vocab,
                                          window=_GLOVE_WIN)
    vdf = F.broadcast(spark.createDataFrame(
        [(w, i) for i, w in enumerate(vocab)], "w string, id int"))
    return (cooc
            .join(vdf.withColumnRenamed("w", "w1")
                  .withColumnRenamed("id", "wi"), "wi")
            .join(vdf.withColumnRenamed("w", "w2")
                  .withColumnRenamed("id", "wj"), "wj")
            .select("w1", "w2", "xq")
            .orderBy(F.desc("xq"), "w1", "w2").limit(_GLOVE_TOP))


SQL_GLOVE_COOC = rf"""
WITH docs2 AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
vocab AS (
  SELECT tok FROM (SELECT unnest(toks) AS tok FROM docs2) u
  GROUP BY tok ORDER BY count(*) DESC, tok LIMIT {_GLOVE_V}),
pairs AS (
  SELECT toks[i] AS a, toks[i + d] AS b,
         CAST(round({1 << 20}.0 / d) AS BIGINT) AS wq
  FROM docs2,
       unnest(generate_series(1, len(toks) - 1)) t1(i),
       unnest(generate_series(1, {_GLOVE_WIN})) t2(d)
  WHERE i + d <= len(toks)),
sym AS (SELECT a, b, wq FROM pairs
        UNION ALL SELECT b AS a, a AS b, wq FROM pairs)
SELECT s.a AS w1, s.b AS w2, SUM(s.wq) AS xq
FROM sym s JOIN vocab va ON s.a = va.tok JOIN vocab vb ON s.b = vb.tok
GROUP BY s.a, s.b
ORDER BY xq DESC, w1, w2 LIMIT {_GLOVE_TOP}
"""


def q_minhash_dup_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dup_pairs(docs, bands=4, rows=2)


def q_simhash_dup_pairs(spark, sf_dir):
    """SimHash near-dup pairs at Hamming ≤ 3 over 32-bit signatures
    (pigeonhole banding → band-bucket equi-join → exact Hamming
    verify). 32 bits (md5's full hex width under the per-digit-parity
    model) keeps chance collisions ~1e-6 so pairs are true near-dups.
    Subsumes the plain `simhash` signature entry — the twin replays
    the full 32-bit signature construction inside the pair SQL."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_dup_pairs(docs, n_bits=32, max_hamming=3)


def q_subword_tokens(spark, sf_dir, n_merges: int = 12):
    """Trained BPE sub-word token budget per document: learn
    ``n_merges`` merges from the corpus word-type histogram
    (deterministic count-then-lexicographic tie-break), apply via a
    broadcast word→n_units table. The DuckDB twin replays the WHOLE
    operator — histogram, every merge-learning step, application —
    in SQL, no frozen values (operators/subword.py)."""
    from multivac_spark.operators import subword

    docs = _t(spark, sf_dir, "documents")
    wc = stage(subword.word_histogram(docs))
    merges = subword.train_bpe_local(
        [(r["word"], r["cnt"]) for r in wc.collect()], n_merges)
    return subword.subword_token_counts(docs, merges, wc)


def _subword_sql(n_merges: int = 12) -> str:
    """DuckDB twin of q_subword_tokens: layered CTEs — one
    (pair-count → best-pair → replace) triple per merge step, then
    the broadcast-join application. Literal replace() has identical
    leftmost-nonoverlap semantics in both engines, which is exactly
    BPE's occurrence rule under the ··-anchored encoding."""
    pat = (r"''(?:s|t|re|ve|m|ll|d)"
           r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+")
    ctes = [
        f"w AS (SELECT word, COUNT(*) AS cnt FROM ("
        f"SELECT UNNEST(regexp_extract_all(text, '{pat}')) AS word "
        f"FROM documents) WHERE NOT contains(word, '·') GROUP BY word)",
        "l0 AS MATERIALIZED (SELECT word, cnt, '··' || array_to_string("
        "list_transform(generate_series(1, length(word)), i -> word[i]),"
        " '··') || '··' AS s FROM w)"]
    for k in range(n_merges):
        ctes.append(
            f"p{k} AS MATERIALIZED (SELECT p.a AS a, p.b AS b, SUM(cnt) AS c FROM ("
            f"SELECT cnt, UNNEST(list_transform("
            f"generate_series(1, len(u) - 1), "
            f"i -> {{'a': u[i], 'b': u[i + 1]}})) AS p FROM ("
            f"SELECT cnt, list_filter(string_split(s, '··'), "
            f"x -> x <> '') AS u FROM l{k}) WHERE len(u) >= 2) "
            f"GROUP BY 1, 2)")
        ctes.append(
            f"b{k} AS (SELECT a, b FROM p{k} "
            f"ORDER BY c DESC, a, b LIMIT 1)")
        ctes.append(
            f"l{k + 1} AS MATERIALIZED (SELECT word, cnt, CASE WHEN b{k}.a IS NULL "
            f"THEN s ELSE replace(s, '·' || b{k}.a || '··' || b{k}.b "
            f"|| '·', '·' || b{k}.a || b{k}.b || '·') END AS s "
            f"FROM l{k} LEFT JOIN b{k} ON TRUE)")
    ctes.append(
        f"fin AS (SELECT word, len(list_filter(string_split(s, '··'), "
        f"x -> x <> '')) AS nu FROM l{n_merges})")
    ctes.append(
        f"docw AS (SELECT doc_id, UNNEST(regexp_extract_all(text, "
        f"'{pat}')) AS word FROM documents)")
    ctes.append(
        "agg AS (SELECT doc_id, COUNT(*) AS n_words, "
        "SUM(COALESCE(fin.nu, length(docw.word))) AS n_subwords "
        "FROM docw LEFT JOIN fin USING (word) GROUP BY doc_id)")
    return ("WITH " + ",\n".join(ctes) + "\n"
            "SELECT d.doc_id, "
            "CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words, "
            "CAST(COALESCE(n_subwords, 0) AS BIGINT) AS n_subwords "
            "FROM documents d LEFT JOIN agg USING (doc_id)")


def _simhash_pairs_sql(n_bits: int = 32, max_hamming: int = 3) -> str:
    """DuckDB twin of dedup.simhash_dup_pairs: identical per-hex-digit
    parity signature, substring band keys, band self-join, per-position
    Hamming sum."""
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    bits = []
    for b in range(n_bits):
        s = (f"list_sum(list_transform({toks}, t -> CASE WHEN "
             f"substring(md5(t), {b + 1}, 1) IN {_ODD} "
             f"THEN 1 ELSE -1 END))")
        bits.append(f"CASE WHEN {s} > 0 THEN '1' ELSE '0' END")
    sig = " || ".join(bits)
    bands = max_hamming + 1
    width = n_bits // bands
    band_selects = [
        f"SELECT doc_id, sig, {b} AS band, "
        f"substring(sig, {b * width + 1}, {width}) AS bkey FROM sigs"
        for b in range(bands)]
    ham = " + ".join(
        f"CASE WHEN substring(sa, {i + 1}, 1) <> substring(sb, {i + 1}, 1) "
        f"THEN 1 ELSE 0 END" for i in range(n_bits))
    return f"""
WITH sigs AS (SELECT doc_id, {sig} AS sig FROM documents),
banded AS ({' UNION ALL '.join(band_selects)}),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                  x.sig AS sa, y.sig AS sb
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
SELECT a, b, hamming FROM (
  SELECT a, b, CAST({ham} AS BIGINT) AS hamming FROM cand)
WHERE hamming <= {max_hamming}
"""


# LaTeX → dependency tuples (equationparsing.py:80-295 port): each doc
# carries a deterministic doc_id-derived equation; the Spark side runs
# the eqparse kernel distributed, the oracle replays the same pure-
# Python kernel over the 6 residue templates at import time (kernel
# correctness itself is reference-parity-pinned in tests/test_eqparse).
_EQ_TEMPLATES = [
    "a = b + c",
    "x^2 + y = z",
    "f(x) = x + 1",
    r"\frac{a}{b} < c",
    "2 x + 3 y > z",
    r"\alpha = x^3 + 2 x",
]
_EQ_RELS = ("compare", "combine", "function", "transform")


# FROZEN literals — derived ONCE from the INDEPENDENT reference path
# (real sympy sreprs over hand-built expressions matching each template
# + tests/test_eqparse._ref_gov_dep + an exact-membership get_rel
# transcription of equationparsing.py:80-95), NOT from the shipped
# eqparse kernel, so this oracle is independent of the code under test.
# tests/test_eqparse.py::test_frozen_entry_counts_match_reference_path
# re-derives them and pins equality. Note template 3's Function governor
# carries its argument span, so exact-membership get_rel → 'transform'.
_EQ_TEMPLATE_COUNTS = [
    {"compare": 2, "combine": 2, "function": 0, "transform": 0},
    {"compare": 2, "combine": 4, "function": 0, "transform": 0},
    {"compare": 2, "combine": 2, "function": 0, "transform": 1},
    {"compare": 2, "combine": 4, "function": 0, "transform": 0},
    {"compare": 2, "combine": 6, "function": 0, "transform": 0},
    {"compare": 2, "combine": 6, "function": 0, "transform": 0},
]


def _eq_template_counts() -> list[dict[str, int]]:
    return _EQ_TEMPLATE_COUNTS


def q_equation_deps(spark, sf_dir):
    from multivac_spark.functions import eqparse
    docs = _t(spark, sf_dir, "documents")
    lat = F.element_at(
        F.array(*[F.lit(t) for t in _EQ_TEMPLATES]),
        (F.pmod(F.col("doc_id"), 6) + 1).cast("int"))
    eqs = docs.select(F.col("doc_id").cast("string").alias("url"),
                      F.lit("eq0").alias("tag"), lat.alias("latex"))
    deps = eqparse.equation_dependencies_stage(eqs)
    aggs = [F.sum((F.col("rel") == r).cast("long")).alias(f"n_{r}")
            for r in _EQ_RELS]
    return (deps.groupBy("url").agg(*aggs)
            .select(F.col("url").cast("long").alias("doc_id"),
                    *[f"n_{r}" for r in _EQ_RELS]))


# frozen oracle for the Kronecker moment-fit (operators/kron.py, the
# KronEM twin): exact integer graph moments + fitted initiator cells
# x1e4 on the fixed heavy-tailed graph below. Moments are exact counts
# (VALUES literal re-derivable by hand); the fit is driver-side
# deterministic grid descent, identical at any parallelism (pinned by
# test_kron.py determinism tests).
_KRON_FIT_ROW = (600, 1321, 14519, 166, 9990, 5361, 1326, 10)


def q_kron_fit(spark, sf_dir):
    """distributed graph moments + moment-matching 2x2 Kronecker
    initiator fit (predict_kg.py:40-130 KronEM twin) on a fixed
    deterministic heavy-tailed graph."""
    from multivac_spark.operators import kron
    rows = []
    for i in range(1, 600):
        rows.append((i, i % 40, 0))
        rows.append((i, (i * i) % 200, 1))
        if i % 3 == 0:
            rows.append((i, i - 1, 2))
    edges = spark.createDataFrame(
        rows, "head_id long, tail_id long, rel_id long")
    mom = kron.graph_moments(edges)
    fit = kron.fit_initiator(mom)
    data = [(mom["n"], mom["m"], mom["wedges"], mom["triangles"],
             round(fit["a"] * 10000), round(fit["b"] * 10000),
             round(fit["c"] * 10000), fit["k"])]
    return spark.createDataFrame(
        data, "n long, m long, wedges long, triangles long, "
              "a_e4 long, b_e4 long, c_e4 long, k long")


SQL_KRON_FIT = ("SELECT " + ", ".join(
    f"CAST({v} AS BIGINT) AS {c}" for v, c in zip(
        _KRON_FIT_ROW,
        ("n", "m", "wedges", "triangles", "a_e4", "b_e4", "c_e4", "k"))))


def q_link_prediction(spark, sf_dir):
    """relation-conditioned frequency imputation (linkpred.impute_slot):
    the TransE-free analog of the reference predict() candidate ranking
    (map_queries.py:90-137) over part→supplier triples labeled by
    returnflag; the embedding-blended variant is pytest-covered."""
    from multivac_spark.operators.linkpred import impute_slot
    li = _t(spark, sf_dir, "lineitem")
    triples = li.select(F.col("l_partkey").cast("string").alias("subj"),
                        F.col("l_returnflag").alias("pred"),
                        F.col("l_suppkey").cast("string").alias("obj"))
    flag_id = (F.when(F.col("l_returnflag") == "A", 0)
               .when(F.col("l_returnflag") == "N", 1)
               .otherwise(2))
    known = (li.filter(F.col("l_partkey") < 20)
             .select((F.col("l_partkey") * 10 + flag_id).alias("query_id"),
                     F.col("l_partkey").cast("string").alias("known"),
                     F.col("l_returnflag").alias("pred"))
             .distinct())
    return impute_slot(triples, known, "known", "obj", num_top=10)


SQL_LINKPRED = """
WITH t AS (SELECT l_returnflag AS pred,
                  CAST(l_suppkey AS VARCHAR) AS obj FROM lineitem),
model AS (SELECT pred, obj AS cand, count(*) AS cnt
          FROM t GROUP BY pred, obj),
m2 AS (SELECT pred, cand,
              CAST(floor(cnt * 1000000.0
                   / max(cnt) OVER (PARTITION BY pred)) AS BIGINT)
                  AS freq_micro,
              row_number() OVER (PARTITION BY pred
                                 ORDER BY cnt DESC, cand ASC) AS rank
       FROM model),
top AS (SELECT * FROM m2 WHERE rank <= 10),
known AS (SELECT DISTINCT
            l_partkey * 10 + (CASE l_returnflag WHEN 'A' THEN 0
                              WHEN 'N' THEN 1 ELSE 2 END) AS query_id,
            CAST(l_partkey AS VARCHAR) AS known,
            l_returnflag AS pred
          FROM lineitem WHERE l_partkey < 20)
SELECT query_id, known, pred, cand, CAST(rank AS INT) AS rank,
       CAST(CASE WHEN freq_micro < 100000 THEN 0 ELSE freq_micro END
            AS BIGINT) AS score_micro
FROM known JOIN top USING (pred)
"""


def q_session_agg(spark, sf_dir):
    """Gap-based sessionization over the events stream shape — the
    batch twin (Spark native session_window, a merging-window partial
    aggregate: ONE shuffle on the key, no self-join) of the stateful
    streaming operator in streaming/sessionize.py. 8h gap over the
    30-day event table yields multi-event sessions per user."""
    from multivac_spark.streaming.sessionize import sessionize_batch
    ev = _t(spark, sf_dir, "events")
    return sessionize_batch(ev, "user_id", "ts",
                            gap_seconds=28_800, value_col="value")


# DuckDB twin: lag + cumulative-sum session ids. Same-session rule is
# ts - prev < gap, matching Spark's overlap merge ([t, t+gap) windows,
# end-exclusive); the synthetic microsecond timestamps cannot land on
# the exact boundary.
SQL_SESSION = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts - lag(ts) OVER w) < 28800 THEN 0 ELSE 1 END
             AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
       CAST(epoch_ms(max(ts)) + 28800000 AS BIGINT) AS session_end_ms,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM sess GROUP BY user_id, sid
"""


_TR_SENTS = [
    ("d0", 0, "the viral genome infects the living cell"),
    ("d0", 1, "the cell membrane binds the viral protein"),
    ("d0", 2, "protein binding activates the immune cell response"),
    ("d0", 3, "completely unrelated astronomy telescope words orbit"),
    ("d1", 0, "spark shuffles partition the network data stream"),
    ("d1", 1, "the data stream joins the network partition"),
    ("d1", 2, "broadcast joins avoid the shuffle of small data"),
    ("d1", 3, "gardening tulips bloom in spring flowerbeds"),
]

# kernel-computed, plausibility-checked milli-scores (the most
# lexically connected sentence ranks first in each doc; the disjoint
# filler drops out of the top-3) — same pinning pattern as the
# eigenvector VALUES oracle
_TR_PINNED = [("d0", 1, 1, 296), ("d0", 0, 2, 230), ("d0", 2, 3, 223),
              ("d1", 1, 1, 316), ("d1", 0, 2, 263), ("d1", 2, 3, 170)]


def q_textrank_rank(spark, sf_dir):
    """TextRank sentence ranking (operators/textrank.py — the
    reference's third query-generation path) over a fixed two-document
    input, sf-independent so the oracle can pin exact milli-scores;
    the corpus-scale path is pytest-covered end-to-end."""
    from multivac_spark.operators.textrank import rank_sentences
    df = spark.createDataFrame(_TR_SENTS,
                               "url string, sent_id int, text string")
    return (rank_sentences(df, top_k=3)
            .select("url", "sent_id", "rank", "textrank_milli"))


SQL_TEXTRANK = ("SELECT url, CAST(sent_id AS INT) AS sent_id, "
                "CAST(rank AS INT) AS rank, "
                "CAST(textrank_milli AS BIGINT) AS textrank_milli "
                "FROM (VALUES "
                + ", ".join(f"('{u}', {s}, {r}, {m})"
                            for u, s, r, m in _TR_PINNED)
                + ") AS t(url, sent_id, rank, textrank_milli)")


def _equation_deps_sql() -> str:
    counts = _eq_template_counts()
    cols = []
    for r in _EQ_RELS:
        case = " ".join(f"WHEN {i} THEN {c[r]}"
                        for i, c in enumerate(counts))
        cols.append(f"CAST(CASE doc_id % 6 {case} END AS BIGINT) AS n_{r}")
    # docs whose template yields zero pairs would drop from the Spark
    # groupBy; every template above yields >= 1 pair (asserted in tests)
    return f"SELECT doc_id, {', '.join(cols)} FROM documents"


def _minhash_pairs_sql(bands: int = 4, rows: int = 2, n: int = 3) -> str:
    """DuckDB twin of dedup.minhash_dup_pairs: identical md5 minhash
    family, band keys = '|'-joined signature slices, band-bucket
    self-join."""
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    sh = (f"CASE WHEN len({toks}) < {n} "
          f"THEN [array_to_string({toks}, ' ')] "
          f"ELSE list_transform(generate_series(1, len({toks}) - {n - 1}), "
          f"i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]) END")
    mins = [f"list_min(list_transform({sh}, s -> md5('{i}:' || s))) AS mh{i}"
            for i in range(bands * rows)]
    band_selects = []
    for b in range(bands):
        key = " || '|' || ".join(f"mh{b * rows + r}" for r in range(rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {key} AS bkey FROM sigs")
    banded = " UNION ALL ".join(band_selects)
    return f"""
WITH sigs AS (SELECT doc_id, {', '.join(mins)} FROM documents),
banded AS ({banded})
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM banded x JOIN banded y
  ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
"""


# ---------------------------------------------------------------------------
# round 6: consolidated relational forms + newly driver-graded surface
# ---------------------------------------------------------------------------

def q_relational_forms(spark, sf_dir):
    """Four relational forms as ONE value-graded digest (the
    text_signals consolidation trick, freeing registry slots under
    the driver's 50-entry grading cap): the filtered scan+agg, the
    semi join, the anti join, and the set intersection — each mapped
    onto a uniform (form, k1, k2, v1, v2, v3) schema so every VALUE
    the four original entries graded is still graded. Each form still
    has its own q_ function (composed here) and per-operator tests."""
    zero = F.lit(0).cast("long")
    scan = q_scan_filter_project(spark, sf_dir).select(
        F.lit("scan").alias("form"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        F.col("n").cast("long").alias("v1"),
        F.col("revenue_cents").alias("v2"),
        F.col("sum_qty").alias("v3"))
    semi = q_semi_join(spark, sf_dir).select(
        F.lit("semi").alias("form"),
        F.col("c_custkey").cast("string").alias("k1"),
        F.col("c_mktsegment").alias("k2"),
        zero.alias("v1"), zero.alias("v2"), zero.alias("v3"))
    anti = q_anti_join(spark, sf_dir).select(
        F.lit("anti").alias("form"),
        F.col("c_custkey").cast("string").alias("k1"),
        F.col("c_name").alias("k2"),
        zero.alias("v1"), zero.alias("v2"), zero.alias("v3"))
    inter = q_set_ops(spark, sf_dir).select(
        F.lit("intersect").alias("form"),
        F.col("user_id").cast("string").alias("k1"),
        F.lit("").alias("k2"),
        zero.alias("v1"), zero.alias("v2"), zero.alias("v3"))
    return scan.unionByName(semi).unionByName(anti).unionByName(inter)


SQL_RELATIONAL = f"""
SELECT 'scan' AS form, l_returnflag AS k1, l_linestatus AS k2,
       n AS v1, revenue_cents AS v2, sum_qty AS v3
FROM ({SQL_SCAN}) scan_q
UNION ALL
SELECT 'semi', CAST(c_custkey AS VARCHAR), c_mktsegment,
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM ({SQL_SEMI}) semi_q
UNION ALL
SELECT 'anti', CAST(c_custkey AS VARCHAR), c_name,
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM ({SQL_ANTI}) anti_q
UNION ALL
SELECT 'intersect', CAST(user_id AS VARCHAR), '',
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM ({SQL_SET_OPS}) set_q
"""


# SPARQL forms over a deterministic KG derived from the driver tables:
# customer --placed--> order-key, every 3rd customer --in_segment-->
# segment (so OPTIONAL is genuinely partial), and nation ring+chord
# --borders--> edges (strongly connected, small diameter) for the
# closure. The DuckDB twin builds the SAME triples in SQL and runs
# sparql.to_sql's structural compilation of each query (shares only
# the parser with the Spark path — the test suite's twin posture).
_SPARQL_FORMS = {
    "bgp": ('SELECT ?s ?seg WHERE { ?s "placed" ?o . '
            '?s "in_segment" ?seg }', ["s", "seg"]),
    "agg_having": ('SELECT ?s (COUNT(?o) AS ?n) WHERE '
                   '{ ?s "placed" ?o } GROUP BY ?s HAVING (?n >= 2)',
                   None),
    "optional": ('SELECT ?s ?seg WHERE { ?s "placed" ?o . '
                 'OPTIONAL { ?s "in_segment" ?seg } }', ["s", "seg"]),
    "minus": ('SELECT ?s ?o WHERE { ?s "placed" ?o '
              'MINUS { ?s "in_segment" ?g } }', ["s", "o"]),
    "path": ('SELECT ?a ?b WHERE { ?a "borders"+ ?b }', ["a", "b"]),
}

_SPARQL_TRIPLES_SQL = """
SELECT c_name AS subj, 'placed' AS pred,
       CAST(o_orderkey AS VARCHAR) AS obj
FROM customer JOIN orders ON c_custkey = o_custkey
UNION ALL
SELECT c_name, 'in_segment', c_mktsegment
FROM customer WHERE c_custkey % 3 = 0
UNION ALL
SELECT n1.n_name, 'borders', n2.n_name
FROM nation n1 JOIN nation n2
  ON n2.n_nationkey = (n1.n_nationkey + 1) % 25
UNION ALL
SELECT n1.n_name, 'borders', n2.n_name
FROM nation n1 JOIN nation n2
  ON n2.n_nationkey = (3 * n1.n_nationkey + 1) % 25
"""


def _sparql_forms_triples(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    placed = (c.join(o, c.c_custkey == o.o_custkey)
              .select(F.col("c_name").alias("subj"),
                      F.lit("placed").alias("pred"),
                      F.col("o_orderkey").cast("string").alias("obj")))
    seg = (c.filter(F.col("c_custkey") % 3 == 0)
           .select(F.col("c_name").alias("subj"),
                   F.lit("in_segment").alias("pred"),
                   F.col("c_mktsegment").alias("obj")))
    n2 = n.select(F.col("n_nationkey").alias("nk2"),
                  F.col("n_name").alias("nn2"))
    ring = (n.join(n2, ((F.col("n_nationkey") + 1) % 25)
                   == F.col("nk2"))
            .select(F.col("n_name").alias("subj"),
                    F.lit("borders").alias("pred"),
                    F.col("nn2").alias("obj")))
    chord = (n.join(n2, ((3 * F.col("n_nationkey") + 1) % 25)
                    == F.col("nk2"))
             .select(F.col("n_name").alias("subj"),
                     F.lit("borders").alias("pred"),
                     F.col("nn2").alias("obj")))
    return (placed.unionByName(seg).unionByName(ring)
            .unionByName(chord))


def q_sparql_forms(spark, sf_dir):
    """One driver row set grading five SPARQL query forms — BGP join,
    aggregate+HAVING, OPTIONAL left join, MINUS anti-join, and the
    "+"-closure property path (the recursive-CTE twin) — over the
    deterministic driver-table KG, reduced to a uniform
    (form, k, v) schema."""
    from multivac_spark.operators.sparql import sparql

    tr = stage(_sparql_forms_triples(spark, sf_dir))
    parts = []
    for form, (q, kcols) in _SPARQL_FORMS.items():
        out = sparql(tr, q)
        if kcols is None:  # the aggregate form: k = group key, v = n
            part = out.select(F.lit(form).alias("form"),
                              F.col("s").alias("k"),
                              F.col("n").cast("long").alias("v"))
        else:
            k = F.concat_ws("|", *[F.coalesce(F.col(c), F.lit("@null@"))
                                   for c in kcols])
            part = out.select(F.lit(form).alias("form"), k.alias("k"),
                              F.lit(1).cast("long").alias("v"))
        parts.append(part)
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.unionByName(p)
    return acc


def _sparql_forms_sql() -> str:
    from multivac_spark.operators.sparql import parse, to_sql

    parts = []
    for form, (q, kcols) in _SPARQL_FORMS.items():
        body = to_sql(parse(q), table="triples")
        if kcols is None:
            sel = "s AS k, CAST(n AS BIGINT) AS v"
        else:
            k = " || '|' || ".join(f"COALESCE({c}, '@null@')"
                                   for c in kcols)
            sel = f"{k} AS k, CAST(1 AS BIGINT) AS v"
        parts.append(f"SELECT '{form}' AS form, {sel} FROM ({body}) "
                     f"{form}_q")
    return (f"WITH triples AS ({_SPARQL_TRIPLES_SQL})\n"
            + "\nUNION ALL\n".join(parts))


# PageRank on a fixed ring+chords+danglers graph (sf-independent so
# the oracle pins exact per-node scores): _PR_E4 is frozen from the
# INDEPENDENT dense Google-matrix oracle
# (tests/test_pagerank_khop.py::_dense_pagerank — the ground-truth
# path, not the kernel under test), with every floor(score*1e4)
# verified >1e-2 e4-units from an integer boundary; the operator's
# driver-fastpath/distributed bit-agreement is pytest-pinned.
_PR_N = 50
_PR_E4 = [166, 171, 179, 198, 172, 190, 193, 165, 165, 188, 189, 201,
          179, 189, 199, 163, 190, 192, 197, 193, 175, 198, 173, 184,
          200, 203, 201, 210, 173, 170, 183, 184, 201, 177, 192, 203,
          165, 187, 205, 200, 207, 173, 195, 168, 180, 199, 201, 200,
          206, 180, 141, 92, 138, 85, 144]


def q_pagerank(spark, sf_dir):
    """networkx-semantics PageRank (analytics.pagerank: dangling mass
    recycled, uniform transition weights) on the fixed graph — ring,
    affine chords, five dangling sink nodes fed from every 7th node."""
    rows = sorted(set(
        [(i, (i + 1) % _PR_N) for i in range(_PR_N)]
        + [(i, (3 * i + 7) % _PR_N) for i in range(_PR_N)]
        + [(i, _PR_N + i % 5) for i in range(0, _PR_N, 7)]))
    edges = spark.createDataFrame(rows, "head_id long, tail_id long")
    res = analytics.pagerank(edges, tol=1e-12, max_iter=500)
    return res.select("node",
                      F.floor(F.col("score") * 10_000).cast("long")
                      .alias("score_e4"))


SQL_PAGERANK = ("SELECT CAST(node AS BIGINT) AS node, "
                "CAST(score_e4 AS BIGINT) AS score_e4 FROM (VALUES "
                + ", ".join(f"({i}, {v})" for i, v in enumerate(_PR_E4))
                + ") AS t(node, score_e4)")


def q_warc_nt_roundtrip(spark, sf_dir):
    """Interchange identity digest: the driver documents table is
    shaped into web pages (url, second-precision warc_ts, html bytes,
    lang), round-tripped through the WARC sink+source (full
    request/response/metadata records), reduced to deterministic
    triples, and round-tripped again through the N-Triples sink+source
    — two (stage, n, digest) rows. The ORACLE computes both digests
    straight from the documents parquet in SQL (the ground-truth
    path), so ANY byte lost or altered by either interchange layer
    (framing, encoding, %-escapes, timestamps, language headers)
    breaks the hash match."""
    import tempfile

    from multivac_spark.sources import ntriples, warc

    tmp = tempfile.mkdtemp(prefix="warc_nt_rt_")
    docs = _t(spark, sf_dir, "documents")
    base_ts = F.to_timestamp_ntz(F.lit("2020-01-01 00:00:00"))
    pages = docs.select(
        F.concat(F.lit("https://corpus.example/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_add("SECOND", F.col("doc_id").cast("int"),
                        base_ts).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "UTF-8")
        .alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"))
    warc.write_warc(pages.repartition(8), f"{tmp}/w",
                    full_records=True)
    back = stage(warc.read_warc(spark, f"{tmp}/w"))

    secs = F.timestamp_diff(
        "SECOND", F.to_timestamp_ntz(F.lit("2020-01-01 00:00:00")),
        F.col("warc_ts")).cast("string")
    row = F.concat_ws("|", F.col("url"), secs, F.md5(F.col("html")),
                      F.col("lang"))
    docs_digest = back.agg(
        F.count("*").alias("n"),
        F.md5(F.encode(F.array_join(
            F.array_sort(F.collect_list(row)), "\n"), "UTF-8"))
        .alias("digest")).select(F.lit("warc_docs").alias("stage"),
                                 "n", "digest")

    triples = (back.select(
        F.col("url").alias("subj"), F.lit("has_lang").alias("pred"),
        F.col("lang").alias("obj"))
        .unionByName(back.select(
            F.col("url").alias("subj"),
            F.lit("html_md5").alias("pred"),
            F.md5(F.col("html")).alias("obj"))))
    ntriples.write_ntriples(triples, f"{tmp}/nt")
    nt_back = ntriples.read_ntriples(spark, f"{tmp}/nt")
    trow = F.concat_ws("|", "subj", "pred", "obj")
    nt_digest = nt_back.agg(
        F.count("*").alias("n"),
        F.md5(F.encode(F.array_join(
            F.array_sort(F.collect_list(trow)), "\n"), "UTF-8"))
        .alias("digest")).select(F.lit("nt_triples").alias("stage"),
                                 "n", "digest")
    return docs_digest.unionByName(nt_digest)


SQL_WARC_NT = """
WITH pages AS (
  SELECT 'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR)
             AS url,
         CAST(doc_id AS VARCHAR) AS secs,
         md5('<html><body>' || text || '</body></html>') AS html_md5,
         lang
  FROM documents),
rows_d AS (
  SELECT url || '|' || secs || '|' || html_md5 || '|' || lang AS r
  FROM pages),
tr AS (
  SELECT url AS subj, 'has_lang' AS pred, lang AS obj FROM pages
  UNION ALL
  SELECT url, 'html_md5', html_md5 FROM pages),
rows_t AS (
  SELECT subj || '|' || pred || '|' || obj AS r FROM tr)
SELECT 'warc_docs' AS stage, count(*) AS n,
       md5(string_agg(r, chr(10) ORDER BY r)) AS digest FROM rows_d
UNION ALL
SELECT 'nt_triples', count(*),
       md5(string_agg(r, chr(10) ORDER BY r)) FROM rows_t
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "relational_forms": q_relational_forms,
        "topn_digest": q_topn_digest,
        "usp_clusters": q_usp_clusters,
        "distinct_dedup": q_distinct_dedup,
        "id_assignment": q_id_assignment,
        "type_constraint": q_type_constraint,
        "broadcast_join_agg": q_broadcast_join_agg,
        "window_topk": q_window_topk,
        "cluster_reps": q_cluster_reps,
        "sparql_forms": q_sparql_forms,
        "degree_centrality": q_degree_centrality,
        "centrality_delta": q_centrality_delta,
        "top_triples_by_gain": q_top_triples_by_gain,
        "text_signals": q_text_signals,
        "exact_dedup": q_exact_dedup,
        "minhash_signature": q_minhash_signature,
        "ngram_jaccard": q_ngram_jaccard,
        "repetition_stats": q_repetition_stats,
        "domain_cap": q_domain_cap,
        "lm_quality": q_lm_quality,
        "curation_pipeline": q_curation_pipeline,
        "pii_scrub": q_pii_scrub,
        "boilerplate_lines": q_boilerplate_lines,
        "decontaminate": q_decontaminate,
        "mixture_sample": q_mixture_sample,
        "repeated_spans": q_repeated_spans,
        "quality_classifier": q_quality_classifier,
        "query_match": q_query_match,
        "ann_topk": q_ann_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "cleaner_regex": q_cleaner_regex,
        "tfidf": q_tfidf,
        "kg_pipeline_synth": q_kg_pipeline_synth,
        "kg_pipeline_variants": q_kg_pipeline_variants,
        "kg_incremental_counts": q_kg_incremental_counts,
        "kron_fit": q_kron_fit,
        "eigenvector_centrality": q_eigenvector_centrality,
        "ann_bucketed": q_ann_bucketed,
        "glove_cooc": q_glove_cooc,
        "minhash_dup_pairs": q_minhash_dup_pairs,
        "simhash_dup_pairs": q_simhash_dup_pairs,
        "subword_tokens": q_subword_tokens,
        "equation_deps": q_equation_deps,
        "link_prediction": q_link_prediction,
        "session_agg": q_session_agg,
        "textrank_rank": q_textrank_rank,
        "transe_rank": q_transe_rank,
        "predicted_objects": q_predicted_objects,
        "pagerank": q_pagerank,
        "warc_nt_roundtrip": q_warc_nt_roundtrip,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "relational_forms": SQL_RELATIONAL,
        "topn_digest": SQL_TOPN_DIGEST,
        "usp_clusters": SQL_USP,
        "distinct_dedup": SQL_DISTINCT,
        "id_assignment": SQL_IDS,
        "type_constraint": SQL_TYPE_CONSTRAINT,
        "broadcast_join_agg": SQL_BROADCAST,
        "window_topk": SQL_WINDOW,
        "cluster_reps": SQL_CLUSTER_REPS,
        "sparql_forms": _sparql_forms_sql(),
        "degree_centrality": SQL_DEGREE,
        "centrality_delta": SQL_DELTA,
        "top_triples_by_gain": SQL_TOP_GAIN,
        "text_signals": _text_signals_sql(),
        "exact_dedup": SQL_EXACT_DEDUP,
        "minhash_signature": _minhash_sql(),
        "ngram_jaccard": _jaccard_sql(),
        "repetition_stats": SQL_REPETITION,
        "domain_cap": SQL_DOMAIN_CAP,
        "lm_quality": SQL_LM_QUALITY,
        "curation_pipeline": _curation_pipeline_sql(),
        "pii_scrub": _pii_sql(),
        "boilerplate_lines": SQL_BOILERPLATE,
        "decontaminate": _decontaminate_sql(),
        "mixture_sample": _mixture_sql(),
        "repeated_spans": _repeated_spans_sql(),
        "quality_classifier": _quality_clf_sql(),
        "query_match": SQL_QUERY_MATCH,
        "ann_topk": SQL_ANN,
        "embedding_near_dups": SQL_NEAR_DUPS,
        "cleaner_regex": SQL_CLEANER,
        "tfidf": SQL_TFIDF,
        "kg_pipeline_synth": SQL_KG_SYNTH,
        "kg_pipeline_variants": SQL_KG_VARIANTS,
        "kg_incremental_counts": SQL_INC_COUNTS,
        "kron_fit": SQL_KRON_FIT,
        "eigenvector_centrality": SQL_EIGEN,
        "ann_bucketed": _ann_bucketed_sql(),
        "glove_cooc": SQL_GLOVE_COOC,
        "minhash_dup_pairs": _minhash_pairs_sql(),
        "simhash_dup_pairs": _simhash_pairs_sql(),
        "subword_tokens": _subword_sql(),
        "equation_deps": _equation_deps_sql(),
        "link_prediction": SQL_LINKPRED,
        "session_agg": SQL_SESSION,
        "textrank_rank": SQL_TEXTRANK,
        "transe_rank": SQL_TRANSE,
        "predicted_objects": SQL_PREDOBJ,
        "pagerank": SQL_PAGERANK,
        "warc_nt_roundtrip": SQL_WARC_NT,
    }
