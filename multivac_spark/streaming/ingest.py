"""Incremental (streaming) corpus ingest.

The reference is strictly batch (SURVEY.md §2.10); its "resume" is
file-existence checks. The rebuild's incremental path is Structured
Streaming with ``Trigger.AvailableNow``: each invocation drains all
new document files, runs the fused doc→triples extraction, appends to
the triples table, and records progress in the stream checkpoint —
giving exactly-once file-level ingest semantics on top of the batch
pipeline's stage-level lineage (plans/lineage.py).

At production scale the same topology runs continuously
(``trigger(processingTime=...)``) over an Iceberg/cloud-files source;
watermarks are unnecessary because extraction is stateless per
document (no event-time aggregation in the reference's semantics).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from ..functions.fused import fused_extract_stage
from ..plans.lineage import footer_rows
from ..plans.manifest import read_json, write_json
from ..sources.corpus import DOCUMENTS_SCHEMA


def ingest_available_now(spark: SparkSession,
                         docs_dir: str,
                         out_dir: str,
                         checkpoint_dir: str,
                         lexicon: dict[str, str],
                         lemmas: dict[str, str],
                         lang_filter: str | None = "en",
                         normalize: bool = False,
                         verb_lemmas: dict[str, str] | None = None) -> int:
    """Drain all unprocessed document parquet files from ``docs_dir``
    into a raw-triples table at ``out_dir``. Returns rows appended in
    this invocation (file-level exactly-once via the checkpoint).

    Appended-row accounting comes from an ``observe()`` metric attached
    to the stream (reported per micro-batch in the query progress) —
    NOT from counting the output table, which would cost two full scans
    per micro-ingest at a large triples table (VERDICT r1 #8; the file
    sink itself reports numOutputRows = -1, so observed metrics are the
    scan-free channel)."""
    from pyspark.sql import functions as F

    stream = (spark.readStream
              .schema(DOCUMENTS_SCHEMA)
              .option("maxFilesPerTrigger", 64)
              .parquet(docs_dir))

    triples = fused_extract_stage(stream, lexicon, lemmas, lang_filter,
                                  normalize=normalize,
                                  verb_lemmas=verb_lemmas) \
        .observe("ingest_metrics", F.count(F.lit(1)).alias("rows"))

    query = (triples.writeStream
             .format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", checkpoint_dir)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()
    appended = 0
    for p in query.recentProgress:
        om = p["observedMetrics"] if "observedMetrics" in p else {}
        m = om.get("ingest_metrics")
        if m is not None:
            appended += int(m["rows"])
    return appended


# --------------------------------------------------------------------------
# incremental WARC drain (crawl archives arriving continuously)
# --------------------------------------------------------------------------

_WARC_STATE = "_INGEST_STATE.json"
_NO_WARC_STATE = {"last_batch_id": -1, "files": []}


def warc_ingest_available_now(spark: SparkSession, warc_dir: str,
                              out_dir: str, state_dir: str) -> int:
    """Drain new ``.warc[.gz]`` archive files from ``warc_dir`` into a
    batch-versioned documents parquet table at ``out_dir`` — the
    AvailableNow semantics of ``ingest_available_now`` for the crawl-
    container format. Returns documents appended this drain.

    Structured Streaming has no ``binaryFile`` source, so exactly-once
    is a write-then-swap manifest protocol (the discipline of
    ``plans.snapshots.commit``): the processed-file set
    and last batch id live in a JSON state committed through
    ``plans.manifest``; each drain reads ONLY unseen files, writes
    their parsed documents to a batch-named directory
    (``b{batch:09d}``), counts them from its parquet footers (no Spark
    job), then commits the state. A crash between write and commit
    leaves an uncommitted directory that the RETRY of the same batch
    overwrites in place; ``read_ingested_documents`` follows the
    committed batch list, so readers never observe a half-ingested
    batch. The state is O(#archive files) — the same bookkeeping a
    file-source stream checkpoint keeps (Common Crawl: ~90k files per
    snapshot)."""
    from ..sources.warc import parse_warc_bytes

    os.makedirs(state_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    st = read_json(os.path.join(state_dir, _WARC_STATE), _NO_WARC_STATE)
    done = set(st["files"])
    names = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(warc_dir, "*.warc*"))
        if not os.path.basename(p).startswith("."))
    new = [n for n in names if n not in done]
    if not new:
        return 0
    batch_id = st["last_batch_id"] + 1
    bdir = os.path.join(out_dir, f"b{batch_id:09d}")

    import pandas as pd

    files = (spark.read.format("binaryFile")
             .load([os.path.join(warc_dir, n) for n in new])
             .select("content"))

    def parse(batches):
        for pdf in batches:
            rows = []
            for data in pdf["content"]:
                rows.extend(parse_warc_bytes(bytes(data)))
            if rows:
                yield pd.DataFrame(rows)

    from ..sources.warc import WARC_DOCS_SCHEMA
    (files.mapInPandas(parse, schema=WARC_DOCS_SCHEMA)
     .write.mode("overwrite").parquet(bdir))
    n = sum(footer_rows(bdir).values())
    write_json(os.path.join(state_dir, _WARC_STATE), {
        "last_batch_id": batch_id,
        "files": sorted(done | set(new))})
    return n


def read_ingested_documents(spark: SparkSession, out_dir: str,
                            state_dir: str) -> DataFrame | None:
    """The committed view of the WARC-ingested documents table: the
    union of batch directories up to the last COMMITTED batch id
    (uncommitted crash leftovers are invisible). None before the
    first committed drain."""
    st = read_json(os.path.join(state_dir, _WARC_STATE), _NO_WARC_STATE)
    if st["last_batch_id"] < 0:
        return None
    dirs = [os.path.join(out_dir, f"b{b:09d}")
            for b in range(st["last_batch_id"] + 1)]
    return spark.read.parquet(*[d for d in dirs if os.path.isdir(d)])
