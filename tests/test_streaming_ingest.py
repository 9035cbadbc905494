"""Incremental ingest: Trigger.AvailableNow drains only new files."""

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from multivac_spark.plans.pipeline import default_lexicons, run_pipeline
from multivac_spark.sources import corpus
from multivac_spark.streaming.ingest import (append_available_now,
                                             ingest_available_now,
                                             read_stream)


def test_available_now_exactly_once(spark):
    lex, lemmas = default_lexicons()
    with tempfile.TemporaryDirectory() as d:
        docs_dir, out_dir, ckpt = f"{d}/docs", f"{d}/triples", f"{d}/ckpt"

        corpus.documents_df(spark, 30, partitions=2) \
            .write.mode("append").parquet(docs_dir)
        n1 = ingest_available_now(spark, docs_dir, out_dir, ckpt,
                                  lex, lemmas)
        count1 = spark.read.parquet(out_dir).count()
        assert n1 == count1 > 0

        # second drain with no new files → nothing appended
        n2 = ingest_available_now(spark, docs_dir, out_dir, ckpt,
                                  lex, lemmas)
        assert n2 == 0
        assert spark.read.parquet(out_dir).count() == count1

        # add new files → only they are processed
        docs2 = corpus.documents_df(spark, 60, partitions=2) \
            .filter("url like '%00000003%' or url like '%00000004%'")
        docs2.write.mode("append").parquet(docs_dir)
        n3 = ingest_available_now(spark, docs_dir, out_dir, ckpt,
                                  lex, lemmas)
        total = spark.read.parquet(out_dir).count()
        assert total == count1 + n3


def test_default_drain_writes_the_build_triples(spark):
    """A drain with default arguments writes the rows of the batch
    build's ``triples``: the table the counts merge and the canonical
    refresh read as the build's normalized triples."""
    lex, lemmas = default_lexicons()
    docs = corpus.documents_df(spark, 30, partitions=2)
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/docs")
        n = ingest_available_now(spark, f"{d}/docs", f"{d}/triples",
                                 f"{d}/ckpt", lex, lemmas)
        got = sorted(map(tuple, spark.read.parquet(f"{d}/triples").collect()))
    want = sorted(map(tuple, run_pipeline(
        spark, docs, corpus.embeddings_df(spark))["triples"].collect()))
    assert n == len(got) > 0
    assert got == want


def test_rows_appended_counts_every_batch(spark):
    """The returned count covers every micro-batch of the drain, not
    only the ones ``recentProgress`` still keeps: with that history cut
    to 2, 200 one-row files drain in 4 batches of at most 64 files."""
    key = "spark.sql.streaming.numRecentProgressUpdates"
    spark.conf.set(key, "2")
    try:
        with tempfile.TemporaryDirectory() as d:
            src = f"{d}/src"
            os.makedirs(src)
            for i in range(200):
                pq.write_table(pa.table({"k": [i]}), f"{src}/{i:03d}.parquet")
            n = append_available_now(read_stream(spark, "k long", src),
                                     f"{d}/out", f"{d}/ck")
            assert n == 200 == spark.read.parquet(f"{d}/out").count()
    finally:
        spark.conf.unset(key)
