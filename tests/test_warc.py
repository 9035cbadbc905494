"""WARC source/sink: spec framing + generator-ground-truth roundtrip.

The oracle is the corpus generator itself: a documents DataFrame
written as WARC and read back must reproduce every row byte-for-byte
(url, warc_ts, html payload, lang via Common Crawl's
WARC-Identified-Content-Language header, text still NULL) — the same
ground-truth-path posture as the PDF goldens."""

import gzip
from datetime import datetime

import pytest

from multivac_spark.sources import corpus, warc


def _row(url="https://h.example/a", ts=None, html=b"<html>x</html>",
         lang="en"):
    return {"url": url, "warc_ts": ts or datetime(2020, 3, 1, 12, 0, 5),
            "html": html, "lang": lang}


# ---------------------------------------------------------------------------
# pure-function framing
# ---------------------------------------------------------------------------

def test_single_record_roundtrip():
    data = warc.make_warc_file([_row()], "f.warc.gz")
    rows = warc.parse_warc_bytes(data)
    assert len(rows) == 1  # warcinfo record is not a document
    r = rows[0]
    assert r["url"] == "https://h.example/a"
    assert r["warc_ts"] == datetime(2020, 3, 1, 12, 0, 5)
    assert r["html"] == b"<html>x</html>"
    assert r["lang"] == "en"
    assert r["text"] is None


def test_content_length_framing_not_marker_scan():
    """A payload CONTAINING 'WARC/1.0\\r\\n' must not derail record
    framing — records are delimited by octet-exact Content-Length,
    never by marker scanning."""
    evil = b"<p>WARC/1.0\r\nWARC-Type: response\r\n\r\n</p>"
    data = warc.make_warc_file(
        [_row(html=evil), _row(url="https://h.example/b")], "f")
    rows = warc.parse_warc_bytes(data)
    assert [r["url"] for r in rows] == ["https://h.example/a",
                                       "https://h.example/b"]
    assert rows[0]["html"] == evil


def test_malformed_record_skipped_framing_intact():
    """A record missing WARC-Target-URI is dropped; later records
    still parse (per-record failure isolation)."""
    good = warc._record("response", [
        ("WARC-Record-ID", "<urn:x:1>"),
        ("WARC-Date", "2020-01-01T00:00:00Z"),
        ("WARC-Target-URI", "https://h.example/ok"),
        ("Content-Type", "application/http; msgtype=response"),
    ], warc._http_block(b"<html>ok</html>"))
    bad = warc._record("response", [
        ("WARC-Record-ID", "<urn:x:0>"),
        ("WARC-Date", "2020-01-01T00:00:00Z"),
        # no target URI
        ("Content-Type", "application/http; msgtype=response"),
    ], warc._http_block(b"<html>bad</html>"))
    rows = warc.parse_warc_bytes(bad + good)
    assert [r["url"] for r in rows] == ["https://h.example/ok"]


def test_gzip_and_plain_bytes_parse_identically():
    plain_records = warc.make_warc_file([_row()], "f")
    plain = gzip.decompress(plain_records)
    assert warc.parse_warc_bytes(plain) == warc.parse_warc_bytes(
        plain_records)


def test_empty_payload_reads_back_as_null_html():
    data = warc.make_warc_file([_row(html=None)], "f")
    assert warc.parse_warc_bytes(data)[0]["html"] is None


# ---------------------------------------------------------------------------
# distributed roundtrip vs generator ground truth
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs120(spark):
    return corpus.documents_df(spark, 120, partitions=4).localCheckpoint()


def _canon(df):
    return sorted(
        (r["url"],
         r["warc_ts"],
         bytes(r["html"]) if r["html"] is not None else None,
         r["text"], r["lang"])
        for r in df.collect())


def test_distributed_roundtrip_equals_generator(docs120, spark, tmp_path):
    out = str(tmp_path / "warcs")
    import os
    n = warc.write_warc(docs120, out)
    assert n == 120  # total rows written
    files = [f for f in os.listdir(out) if f.endswith(".warc.gz")]
    assert len(files) == 4  # one .warc.gz per partition
    back = warc.read_warc(spark, out)
    assert _canon(back) == _canon(docs120)


def test_warc_feeds_extract_stage_identically(docs120, spark, tmp_path):
    """The KG/curation head over WARC-read docs must equal the head
    over the parquet corpus — ingestion is a transparent swap."""
    from pyspark.sql import functions as F

    from multivac_spark.functions.html_text import extract_text_stage

    out = str(tmp_path / "warcs2")
    warc.write_warc(docs120, out)
    a = (extract_text_stage(warc.read_warc(spark, out))
         .select("url", "text"))
    b = extract_text_stage(docs120).select("url", "text")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# incremental WARC drain (streaming/ingest.py)
# ---------------------------------------------------------------------------

def test_warc_incremental_drain_crash_resume(spark, tmp_path):
    """Drains over arriving archives, one of them truncated: the
    failed drain must raise and leave the committed view at the fully
    drained archives, the retry after the repair must append the
    archive's rows once, and a no-new-files drain appends nothing.
    Files that are not ``*.warc*`` and dotfiles are ignored; an
    archive whose mtime is 30 days older than those already drained
    is still drained."""
    import os
    import time

    from pyspark.errors import StreamingQueryException

    from multivac_spark.streaming import ingest

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    out, state = str(tmp_path / "docs"), str(tmp_path / "state")

    def archive(name, lo, n):
        rows = [corpus.gen_document(i) for i in range(lo, lo + n)]
        return warc.make_warc_file(rows, name)

    def drain():
        return ingest.warc_ingest_available_now(spark, str(wdir), out,
                                                state)

    (wdir / "crawl-000.warc.gz").write_bytes(archive("crawl-000", 0, 30))
    assert drain() == 30

    # crash: the arriving archive is truncated mid-stream
    whole = archive("crawl-001", 30, 20)
    (wdir / "crawl-001.warc.gz").write_bytes(whole[:len(whole) // 2])
    with pytest.raises(StreamingQueryException):
        drain()
    # committed view still shows only the first archive
    assert spark.read.parquet(out).count() == 30

    # retry of the same batch once the archive is whole, no duplicates
    (wdir / "crawl-001.warc.gz").write_bytes(whole)
    assert drain() == 20
    (wdir / "crawl-002.warc.gz").write_bytes(archive("crawl-002", 50, 10))
    (wdir / "notes.txt").write_bytes(archive("notes", 60, 5))
    (wdir / ".crawl-003.warc.gz").write_bytes(archive("hidden", 60, 5))
    assert drain() == 10
    # idempotent empty drain
    assert drain() == 0

    got = spark.read.parquet(out)
    want = corpus.documents_df(spark, 60, partitions=2)
    assert _canon(got) == _canon(want)

    # a late archive with an old mtime is not skipped for its age
    late = wdir / "crawl-old.warc.gz"
    late.write_bytes(archive("crawl-old", 60, 3))
    month_ago = time.time() - 30 * 86400
    os.utime(late, (month_ago, month_ago))
    assert drain() == 3
    assert spark.read.parquet(out).count() == 63


def test_warc11_fractional_dates_and_folded_headers():
    """Third-party WARC/1.1 interop: WARC-Date with 1-9 fractional
    digits (spec §5.4) must not drop the record, and folded header
    continuation lines (spec §4) must append to the previous value."""
    body = b"HTTP/1.1 200 OK\r\n\r\n<html>y</html>"
    rec = (b"WARC/1.1\r\n"
           b"WARC-Type: response\r\n"
           b"WARC-Target-URI: https://h.example/frac\r\n"
           b"WARC-Date: 2021-06-02T03:04:05.123456789Z\r\n"
           b"WARC-Identified-Content-Language:\r\n"
           b"  en\r\n"
           + f"Content-Length: {len(body)}\r\n\r\n".encode()
           + body + b"\r\n\r\n")
    rec2 = (b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: https://h.example/milli\r\n"
            b"WARC-Date: 2021-06-02T03:04:05.5Z\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body + b"\r\n\r\n")
    rows = warc.parse_warc_bytes(rec + rec2)
    assert [r["url"] for r in rows] == ["https://h.example/frac",
                                       "https://h.example/milli"]
    assert rows[0]["warc_ts"] == datetime(2021, 6, 2, 3, 4, 5, 123456)
    assert rows[0]["lang"] == "en"
    assert rows[1]["warc_ts"] == datetime(2021, 6, 2, 3, 4, 5, 500000)
    assert rows[0]["html"] == b"<html>y</html>"


# ---------------------------------------------------------------------------
# round 6: full record types + Concurrent-To threading, loud
# shared-filesystem check
# ---------------------------------------------------------------------------

def _raw_records(data: bytes) -> list[dict]:
    """Independent header-level re-parse (framing only) so the
    threading assertions don't share code with the reader under test."""
    data = gzip.decompress(data) if data[:2] == b"\x1f\x8b" else data
    recs, pos = [], 0
    while pos < len(data):
        while data[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= len(data):
            break
        hend = data.index(b"\r\n\r\n", pos)
        hdrs = dict(
            line.split(": ", 1)
            for line in data[pos:hend].decode("utf-8").split("\r\n")[1:]
            if ": " in line)
        clen = int(hdrs["Content-Length"])
        recs.append({**hdrs, "_body": data[hend + 4:hend + 4 + clen]})
        pos = hend + 4 + clen
    return recs


def test_full_records_roundtrip_and_threading():
    rows = [_row(url="https://h.example/a"),
            _row(url="https://h.example/b?q=1", html=b"<p>b</p>",
                 lang="de")]
    data = warc.make_warc_file(rows, "f.warc.gz", full_records=True)

    # the reader keeps only response records: read-back identical to
    # the responses-only file
    assert warc.parse_warc_bytes(data) == warc.parse_warc_bytes(
        warc.make_warc_file(rows, "f.warc.gz"))

    recs = _raw_records(data)
    types = [r["WARC-Type"] for r in recs]
    assert types == ["warcinfo"] + ["request", "response",
                                    "metadata"] * 2
    ids = [r["WARC-Record-ID"] for r in recs]
    assert len(set(ids)) == len(ids)  # globally unique per record
    for req, resp, meta in zip(recs[1::3], recs[2::3], recs[3::3]):
        rid = resp["WARC-Record-ID"]
        assert req["WARC-Concurrent-To"] == rid
        assert meta["WARC-Concurrent-To"] == rid
        assert req["WARC-Target-URI"] == resp["WARC-Target-URI"]
    # the stored request block is a real HTTP/1.1 request for the url
    req_b = recs[1]["_body"]
    assert req_b.startswith(b"GET /a HTTP/1.1\r\n")
    assert b"Host: h.example\r\n" in req_b
    assert recs[4]["_body"].startswith(b"GET /b?q=1 HTTP/1.1\r\n")


def test_write_warc_full_records_distributed(docs120, spark, tmp_path):
    out = str(tmp_path / "full")
    n = warc.write_warc(docs120.repartition(4), out, full_records=True)
    assert n == 120
    assert _canon(warc.read_warc(spark, out)) == _canon(docs120)


def test_write_warc_missing_part_raises(docs120, tmp_path, monkeypatch):
    """If a part file is not visible from the driver (worker-local
    write), the sink must raise, not silently under-deliver."""
    import os
    real_exists = os.path.exists
    monkeypatch.setattr(
        "os.path.exists",
        lambda p: False if p.endswith(".warc.gz") else real_exists(p))
    with pytest.raises(RuntimeError, match="non-shared filesystem"):
        warc.write_warc(docs120.repartition(2), str(tmp_path / "w"))
