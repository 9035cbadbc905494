"""Streaming curation: the STATELESS hygiene stages run per
micro-batch as documents arrive; corpus-level stages run in the
periodic batch refresh.

Real web-pipeline split (the kg_update.py pattern applied to
curation): per-document decisions — source blocklist, PII scrubbing,
language ID, quality/repetition signals, token accounting,
fingerprints — depend on nothing but the row, so they ride the
AvailableNow ingest stream with exactly-once file semantics and land
in a curated documents table annotated with every signal. Stages that
need corpus state (per-domain caps, LM-quality thresholds, MinHash /
repeated-span dedup) are deliberately NOT in the stream: they read
the curated table in the periodic batch pass (`__spark_entry__
.q_curation_pipeline` shape), where their count/model state is
consistent over a closed snapshot. Running them per-batch would make
keep/drop decisions depend on arrival batching — not reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import textops
from ..sources.corpus import DOCUMENTS_SCHEMA
from .ingest import append_available_now, read_stream


def curate_stage(df: DataFrame,
                 blocked_domains: list[str] | None = None,
                 key=None) -> DataFrame:
    """documents → curated documents + per-row signals. Stateless:
    safe in a stream (identical result at any batching) and reusable
    as the batch twin for equivalence tests.

    Adds: scrubbed ``text`` (+ ``n_pii``), ``lang_id``, ``n_tokens``,
    ``dup3_e4`` (Gopher repetition), ``fp`` (rolling-hash
    fingerprint).

    Signal provenance: ``n_pii`` and ``fp`` describe the ORIGINAL
    text (``n_pii`` counts what was removed; the fingerprint must
    match other copies of the raw document for dedup).  ``lang_id``,
    ``n_tokens`` and ``dup3_e4`` are computed on the SCRUBBED text —
    the text actually stored — so token budgets and quality
    thresholds downstream agree with the bytes on disk (a multi-token
    phone number collapses to one ``<PHONE>`` token)."""
    if blocked_domains:
        df = textops.filter_blocklist(df, list(blocked_domains), key=key)
    t = F.col("text")
    s = F.col("__scrubbed")
    return (df
            .select("*",
                    textops.pii_count(t).alias("n_pii"),
                    textops.fingerprint(t).alias("fp"),
                    textops.scrub_pii(t).alias("__scrubbed"))
            .select("*",
                    textops.langid(s).alias("lang_id"),
                    textops.token_count(s).cast("long").alias("n_tokens"),
                    textops.dup_ngram_fraction(s, 3).alias("dup3_e4"))
            .withColumn("text", s)
            .drop("__scrubbed"))


def curate_available_now(spark: SparkSession, docs_dir: str,
                         out_dir: str, checkpoint_dir: str,
                         blocked_domains: list[str] | None = None,
                         key=None) -> int:
    """Drain all unprocessed document files through ``curate_stage``
    into the curated table; returns rows appended this invocation.
    File-level exactly-once via ``ingest.append_available_now``."""
    docs = read_stream(spark, DOCUMENTS_SCHEMA, docs_dir)
    return append_available_now(
        curate_stage(docs, blocked_domains, key=key), out_dir,
        checkpoint_dir)
