"""Custom stateful streaming operator: per-host document sessionization.

The reference has no streaming at all (SURVEY §2.10); this rounds out
the incremental story next to the AvailableNow ingest
(streaming/ingest.py) with a genuinely stateful operator: crawl
documents are grouped per host and split into sessions separated by
``gap_seconds`` of event-time silence — the canonical shape for
crawl-batch lineage over a Common-Crawl-style (url, warc_ts, ...)
stream at 10^12-document scale (state is per-host, partitioned by the
group key; the watermark bounds state size by evicting sessions older
than the lateness horizon).

Implementation: ``applyInPandasWithState`` with EventTimeTimeout —
each micro-batch folds its rows into per-host open-session state; a
session row is EMITTED when the watermark passes the session's gap
deadline (append semantics: only closed sessions reach the sink)."""

from __future__ import annotations

import pandas as pd

SESSION_SCHEMA = ("host string, session_start timestamp, "
                  "session_end timestamp, n_docs long, n_chars long")
STATE_SCHEMA = "start long, last long, n_docs long, n_chars long"  # epoch ms

_EMPTY = pd.DataFrame({"host": pd.Series([], dtype=object),
                       "session_start": pd.Series([], dtype="datetime64[ns]"),
                       "session_end": pd.Series([], dtype="datetime64[ns]"),
                       "n_docs": pd.Series([], dtype="int64"),
                       "n_chars": pd.Series([], dtype="int64")})


def _session_fn_factory(gap_seconds: int):
    gap_ms = gap_seconds * 1000

    def emit(host, sessions):
        return pd.DataFrame(
            {"host": [host] * len(sessions),
             "session_start": [pd.Timestamp(s[0], unit="ms")
                               for s in sessions],
             "session_end": [pd.Timestamp(s[1], unit="ms")
                             for s in sessions],
             "n_docs": [s[2] for s in sessions],
             "n_chars": [s[3] for s in sessions]})

    def fn(key, pdfs, state):
        host = key[0]
        if state.hasTimedOut:
            # no new data and the watermark passed the deadline → close
            start, last, n_docs, n_chars = state.get
            state.remove()
            yield emit(host, [(start, last, n_docs, n_chars)])
            return

        events: list[tuple[int, int]] = []
        for pdf in pdfs:
            ts_ms = (pdf["ts"].astype("int64") // 1_000_000)
            events.extend(zip((int(t) for t in ts_ms),
                              (int(c) for c in pdf["n_chars"])))
        if not events:
            yield _EMPTY
            return
        events.sort()

        # fold new events into the open session, splitting on gaps:
        # a key receiving data in the batch where its timeout would
        # have fired sees hasTimedOut=False, so gap closure must also
        # be detected from the event stream itself.
        cur = list(state.get) if state.exists else None
        closed: list[tuple[int, int, int, int]] = []
        for ts, ch in events:
            if cur is None:
                cur = [ts, ts, 1, ch]
            elif ts <= cur[1] + gap_ms:
                cur[1] = max(cur[1], ts)
                cur[2] += 1
                cur[3] += ch
            else:
                closed.append(tuple(cur))
                cur = [ts, ts, 1, ch]
        state.update(tuple(cur))
        state.setTimeoutTimestamp(cur[1] + gap_ms)
        yield emit(host, closed) if closed else _EMPTY

    return fn


def sessionize_stream(stream, gap_seconds: int = 1800,
                      host_col: str = "host", ts_col: str = "warc_ts",
                      text_col: str = "text",
                      watermark: str = "10 minutes"):
    """stream(…, host, warc_ts, text) → closed sessions
    (host, session_start, session_end, n_docs, n_chars), append-mode.

    Divergent event-time batches per host are folded into one open
    session per key; emission happens when the watermark (max event
    time − ``watermark``) passes last_ts + gap."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    slim = stream.select(
        F.col(host_col).alias("host"),
        F.col(ts_col).alias("ts"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long")
        .alias("n_chars"))
    return (slim.withWatermark("ts", watermark)
            .groupBy("host")
            .applyInPandasWithState(
                _session_fn_factory(gap_seconds),
                SESSION_SCHEMA, STATE_SCHEMA, "append",
                GroupStateTimeout.EventTimeTimeout))


def sessionize_batch(events, key_col: str, ts_col: str,
                     gap_seconds: int = 1800,
                     value_col: str | None = None):
    """Batch twin of the stateful sessionizer, built on Spark's native
    ``session_window`` (merging-window aggregation — the Catalyst
    operator behind streaming session windows, usable in batch too).

    Returns one row per (key, session):
    ``(key, session_start_ms, session_end_ms, n_events[, value_cents])``
    with epoch-ms BIGINT bounds (cross-engine hash-stable) where
    ``session_end_ms`` = last event + gap, matching both the streaming
    operator's timeout deadline and Spark's window.end.

    Scale shape: session_window is a partial-merge aggregate — events
    shuffle once on the key, windows merge map-side; no self-join, no
    global window. At 10^12 events this is the same single shuffle as
    any groupBy(key).
    """
    from pyspark.sql import functions as F

    win = F.session_window(F.col(ts_col), f"{gap_seconds} seconds")
    aggs = [F.count("*").alias("n_events")]
    if value_col is not None:
        # per-row cents then exact BIGINT sum — float-sum rounding can
        # flip a floor() at the boundary across engines; this can't
        aggs.append(F.sum(F.round(F.col(value_col) * 100).cast("long"))
                    .alias("value_cents"))
    out = (events.groupBy(F.col(key_col), win).agg(*aggs))

    # TZ-independent epoch-ms for TIMESTAMP_NTZ inputs (unix_millis
    # requires LTZ and would silently shift with the session timezone)
    def epoch_ms(col):
        return F.timestamp_diff(
            "MILLISECOND",
            F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), col)

    return out.select(
        F.col(key_col),
        epoch_ms(F.col("session_window.start")).alias("session_start_ms"),
        epoch_ms(F.col("session_window.end")).alias("session_end_ms"),
        "n_events",
        *([F.col("value_cents")] if value_col is not None else []))


def run_sessionize_available_now(spark, docs_dir: str, out_dir: str,
                                 checkpoint_dir: str,
                                 gap_seconds: int = 1800,
                                 watermark: str = "10 minutes") -> int:
    """Drain new document files through the sessionizer (host = the
    url's authority component), appending closed sessions to parquet;
    returns the sessions appended this invocation. Open sessions
    persist in the state store across invocations — exactly the
    checkpoint-resume semantics of the batch lineage."""
    from pyspark.sql import functions as F

    from ..sources.corpus import DOCUMENTS_SCHEMA
    from .ingest import append_available_now, read_stream

    docs = read_stream(spark, DOCUMENTS_SCHEMA, docs_dir)
    withhost = docs.withColumn(
        "host", F.regexp_extract(F.col("url"), r"^https?://([^/]+)/", 1))
    sessions = sessionize_stream(withhost, gap_seconds,
                                 watermark=watermark)
    return append_available_now(sessions, out_dir, checkpoint_dir)
