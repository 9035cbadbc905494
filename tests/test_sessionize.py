"""Stateful streaming sessionization (applyInPandasWithState):
gap-separated per-host sessions close when the watermark passes their
deadline; open sessions survive in state across drain invocations."""

import datetime as dt
import tempfile

from multivac_spark.streaming.sessionize import run_sessionize_available_now


def _docs(spark, rows):
    data = [(url, ts, b"", f"text {i}", "en")
            for i, (url, ts) in enumerate(rows)]
    return spark.createDataFrame(
        data, "url string, warc_ts timestamp, html binary, text string, "
              "lang string")


def test_sessions_close_on_watermark(spark):
    t0 = dt.datetime(2020, 1, 1, 10, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    with tempfile.TemporaryDirectory() as d:
        docs_dir, out_dir, ckpt = f"{d}/docs", f"{d}/sess", f"{d}/ckpt"

        # batch 1: host-a has two docs 5 min apart (one session, gap 30m);
        # host-b one doc. Nothing can close yet.
        _docs(spark, [("https://host-a/x", at(0)),
                      ("https://host-a/y", at(5)),
                      ("https://host-b/z", at(3))]) \
            .write.mode("append").parquet(docs_dir)
        assert run_sessionize_available_now(spark, docs_dir, out_dir, ckpt,
                                            gap_seconds=1800,
                                            watermark="1 minutes") == 0
        try:
            n_closed = spark.read.parquet(out_dir).count()
        except Exception:
            n_closed = 0
        assert n_closed == 0  # watermark hasn't passed any deadline

        # batch 2: a much later doc on host-a advances the watermark far
        # past both sessions' 30-min deadlines → both close; the new doc
        # itself starts a fresh open session.
        _docs(spark, [("https://host-a/w", at(600))]) \
            .write.mode("append").parquet(docs_dir)
        assert run_sessionize_available_now(spark, docs_dir, out_dir, ckpt,
                                            gap_seconds=1800,
                                            watermark="1 minutes") == 2
        closed = {r["host"]: r for r in spark.read.parquet(out_dir).collect()}
        assert set(closed) == {"host-a", "host-b"}
        a = closed["host-a"]
        assert a["n_docs"] == 2
        assert a["session_start"] == at(0)
        assert a["session_end"] == at(5)
        assert closed["host-b"]["n_docs"] == 1


def test_batch_twin_matches_stream(spark):
    """sessionize_batch (native session_window) agrees with the stateful
    streaming operator on every CLOSED session: same (key, start,
    last-event, n) — the batch window.end is last-event + gap, the
    stream emits last-event, so compare end - gap."""
    from multivac_spark.streaming.sessionize import sessionize_batch

    t0 = dt.datetime(2020, 1, 1, 10, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # deterministic multi-session layout: host-a two sessions, host-b one
    rows = [("https://host-a/1", at(0)), ("https://host-a/2", at(10)),
            ("https://host-a/3", at(100)), ("https://host-a/4", at(105)),
            ("https://host-b/1", at(2)), ("https://host-b/2", at(20))]
    with tempfile.TemporaryDirectory() as d:
        docs_dir, out_dir, ckpt = f"{d}/docs", f"{d}/sess", f"{d}/ckpt"
        _docs(spark, rows).write.mode("append").parquet(docs_dir)
        run_sessionize_available_now(spark, docs_dir, out_dir, ckpt,
                                     gap_seconds=1800,
                                     watermark="1 minutes")
        # flush: a far-future doc per host closes everything above
        _docs(spark, [("https://host-a/f", at(10_000)),
                      ("https://host-b/f", at(10_000))]) \
            .write.mode("append").parquet(docs_dir)
        run_sessionize_available_now(spark, docs_dir, out_dir, ckpt,
                                     gap_seconds=1800,
                                     watermark="1 minutes")
        stream = {(r["host"], r["session_start"], r["session_end"],
                   r["n_docs"])
                  for r in spark.read.parquet(out_dir).collect()}

    from pyspark.sql import functions as F
    ev = spark.createDataFrame(
        [(u.split("/")[2], ts) for u, ts in rows],
        "host string, ts timestamp")
    batch = sessionize_batch(ev, "host", "ts", gap_seconds=1800)
    batch_sessions = {
        (r["host"],
         dt.datetime.utcfromtimestamp(r["session_start_ms"] / 1000),
         dt.datetime.utcfromtimestamp((r["session_end_ms"]
                                       - 1_800_000) / 1000),
         r["n_events"])
        for r in batch.collect()}
    assert stream == batch_sessions
