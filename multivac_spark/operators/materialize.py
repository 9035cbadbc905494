"""KG materialization: top-N dictionaries, deterministic ids, OpenKE-shape
tables, type constraints, text export.

Reference behaviors:
* top-N entities/relations by frequency — ``get_unique_entities`` /
  ``get_unique_relations`` (src/rdf_graph/rdf_graph.py:219-251),
  defaults top_n_ent=50000, top_n_rel=50 (:22-26);
* id assignment by enumeration — ``output_to_openke``
  (rdf_graph.py:295-338) / ``RDFExtractor.to_id`` (rdf_extract.py:588-605);
  the rebuild uses ``row_number() over (order by name)`` — deterministic
  total order instead of dict insertion order (SURVEY.md §4.3 #4); both
  dictionaries are top-N-truncated, so the single-partition window is
  bounded by construction, not by luck;
* train2id column order (head, tail, rel) — rdf_graph.py:320-321 and
  rdf_extract.py:925-927;
* type constraints — ``_create_type_constraint``
  (rdf_extract.py:876-913): per relation, the distinct head set and
  distinct tail set.

Skew note: predicate frequency is Zipfian. ``edges`` is written
repartitioned by ``(rel_id, salt)`` so a single hot predicate cannot pin
one writer/reducer (SURVEY.md §4.3 #1); downstream groupBys on rel_id
run with AQE skew handling on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

TOP_N_ENT = 50_000  # rdf_graph.py:25
TOP_N_REL = 50      # rdf_graph.py:24
SALT_BUCKETS = 16


def entity_counts(triples: DataFrame) -> DataFrame:
    """(mention, cnt): subj and obj each count once per row (per-row
    occurrences, not distinct triples)."""
    return (triples.select(F.explode(F.array("subj", "obj")).alias("mention"))
            .groupBy("mention").agg(F.count("*").alias("cnt")))


def relation_counts(triples: DataFrame) -> DataFrame:
    """(pred, cnt): one per row."""
    return triples.groupBy("pred").agg(F.count("*").alias("cnt"))


def top_n(counted: DataFrame, key: str, n: int | None) -> DataFrame:
    """Keep the n most frequent keys of a (key, cnt) table; ``None``
    keeps all. Ties broken lexicographically (documented divergence
    from Counter insertion order)."""
    if n is not None:
        counted = counted.orderBy(F.desc("cnt"), F.asc(key)).limit(n)
    return counted.select(key, "cnt")


def top_entities(triples: DataFrame, n: int | None = TOP_N_ENT) -> DataFrame:
    return top_n(entity_counts(triples), "mention", n)


def top_relations(triples: DataFrame, n: int | None = TOP_N_REL) -> DataFrame:
    return top_n(relation_counts(triples), "pred", n)


def assign_ids(names: DataFrame, col: str, id_col: str) -> DataFrame:
    """Deterministic dense ids 0..n-1 by lexicographic order. The inputs
    are top-N-truncated dictionaries (≤50k rows), so the global window
    is a bounded, deliberate single-partition step."""
    w = Window.orderBy(F.asc(col))
    return names.select(col).distinct().withColumn(
        id_col, (F.row_number().over(w) - 1).cast("long"))


def entity_ids(final_triples: DataFrame) -> DataFrame:
    """(entity, entity_id) over every subject and object."""
    return assign_ids(
        final_triples.select(F.col("subj").alias("entity"))
        .union(final_triples.select(F.col("obj").alias("entity"))),
        "entity", "entity_id")


def relation_ids(final_triples: DataFrame) -> DataFrame:
    """(rel, rel_id) over every predicate."""
    return assign_ids(final_triples.select(F.col("pred").alias("rel")),
                      "rel", "rel_id")


def graph_edges(final_triples: DataFrame, entities: DataFrame,
                relations: DataFrame) -> DataFrame:
    """final_triples joined to the id dictionaries → edges in the OpenKE
    text order (head_id, tail_id, rel_id) (rdf_graph.py:320-321)."""
    e_head = F.broadcast(entities).withColumnRenamed("entity", "subj") \
        .withColumnRenamed("entity_id", "head_id")
    e_tail = F.broadcast(entities).withColumnRenamed("entity", "obj") \
        .withColumnRenamed("entity_id", "tail_id")
    r = F.broadcast(relations).withColumnRenamed("rel", "pred")
    return (final_triples
            .join(e_head, "subj").join(e_tail, "obj").join(r, "pred")
            .select("head_id", "tail_id", "rel_id"))


def build_graph_tables(final_triples: DataFrame) -> dict[str, DataFrame]:
    """final_triples(subj, pred, obj) → entities / relations / edges."""
    entities = entity_ids(final_triples)
    relations = relation_ids(final_triples)
    return {"entities": entities, "relations": relations,
            "edges": graph_edges(final_triples, entities, relations)}


def type_constraints(edges: DataFrame) -> DataFrame:
    """Per relation: distinct head ids and distinct tail ids
    (rdf_extract._create_type_constraint, :876-913). Arrays sorted for
    determinism."""
    return (edges.groupBy("rel_id")
            .agg(F.array_sort(F.collect_set("head_id")).alias("head_ids"),
                 F.array_sort(F.collect_set("tail_id")).alias("tail_ids")))


def salted(df: DataFrame, key: str, buckets: int = SALT_BUCKETS,
           partitions: int | None = None) -> DataFrame:
    """Repartition by (key, salt) to defuse Zipfian key skew before
    writes/heavy aggs (SURVEY.md §4.3 #1). Salt is a deterministic hash
    of the whole row, not a random draw."""
    salt = F.pmod(F.hash(*df.columns), F.lit(buckets))
    if partitions:
        return df.repartition(partitions, F.col(key), salt)
    return df.repartition(F.col(key), salt)


def write_neo4j_bulk(tables: dict[str, DataFrame], out_dir: str,
                     entity_label: str = "Entity",
                     rel_type_col: str = "rel") -> dict[str, str]:
    """Neo4j sink in the ``neo4j-admin database import`` bulk-CSV
    layout (the scalable answer to the reference's row-at-a-time
    py2neo writer, src/data/write_mln_to_graph_db.py:64-110 — that
    path is MLN-specific and transactional; bulk import is the
    documented Neo4j route for initial loads at this scale).

    Layout: one driver-written header CSV per table plus distributed
    headerless part files, exactly the multi-file form
    ``--nodes=<header>,<parts...> --relationships=<header>,<parts...>``
    expects. Node ids reuse the deterministic ``entity_id`` space.
    """
    import os

    ents = tables["entities"]
    rels = F.broadcast(tables["relations"])
    edges = tables["edges"]

    nodes_dir = os.path.join(out_dir, "nodes")
    rels_dir = os.path.join(out_dir, "relationships")
    (ents.select(F.col("entity_id").cast("string").alias("id"),
                 F.col("entity").alias("name"),
                 F.lit(entity_label).alias("label"))
     .write.mode("overwrite").option("header", "false")
     .option("quoteAll", "true").csv(nodes_dir))
    (edges.join(rels, "rel_id")
     .select(F.col("head_id").cast("string").alias("start"),
             F.col("tail_id").cast("string").alias("end"),
             F.col(rel_type_col).alias("type"))
     .write.mode("overwrite").option("header", "false")
     .option("quoteAll", "true").csv(rels_dir))

    os.makedirs(out_dir, exist_ok=True)
    node_header = os.path.join(out_dir, "nodes_header.csv")
    rel_header = os.path.join(out_dir, "relationships_header.csv")
    with open(node_header, "w") as f:
        f.write("id:ID,name,:LABEL\n")
    with open(rel_header, "w") as f:
        f.write(":START_ID,:END_ID,:TYPE\n")
    return {"nodes_header": node_header, "nodes": nodes_dir,
            "relationships_header": rel_header, "relationships": rels_dir}


def write_openke_text(tables: dict[str, DataFrame], out_dir: str) -> None:
    """Optional parity export in the OpenKE text layout: count header
    line, then tab-separated rows; train2id order (head, tail, rel)
    (rdf_graph.py:315-338). Single text file per table via coalesce(1) —
    parity/testing only, not the scale path (the parquet tables are)."""
    ents = tables["entities"]
    rels = tables["relations"]
    edges = tables["edges"]

    import os

    def dump(df: DataFrame, cols: list[str], path: str) -> None:
        body = df.select(
            F.concat_ws("\t", *[F.col(c).cast("string") for c in cols])
            .alias("line"))
        n = body.count()
        # single ordered text file via toLocalIterator — a union of a
        # header DataFrame does not guarantee row order on write
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "part-00000.txt"), "w") as f:
            f.write(f"{n}\n")
            for row in body.toLocalIterator():
                f.write(row["line"] + "\n")

    dump(ents.orderBy("entity_id"), ["entity", "entity_id"],
         f"{out_dir}/entity2id")
    dump(rels.orderBy("rel_id"), ["rel", "rel_id"], f"{out_dir}/relation2id")
    dump(edges.orderBy("head_id", "tail_id", "rel_id"),
         ["head_id", "tail_id", "rel_id"], f"{out_dir}/train2id")
