"""WARC (Web ARChive, ISO 28500 / WARC 1.0) source + sink — the
container format web-scale corpora actually arrive in (Common Crawl
ships ~90k ``.warc.gz`` files per monthly snapshot).

The reference ingests HTML/PDF fetched per-article over APIs
(src/data/get_papers.py); a 100 TB webtext run instead reads archived
crawl containers, so this module closes that ingestion gap Spark-first:

* **Sink** (`write_warc`): one ``.warc.gz`` per input partition,
  written executor-side (``mapInPandas`` — no driver byte funnel;
  only per-partition (filename, count) metadata returns for the
  shared-filesystem completeness check). Records follow the public
  WARC/1.0 spec: a ``warcinfo`` header record per file, then one
  ``response`` record per page with an ``HTTP/1.1 200 OK`` block
  wrapping the payload (``full_records=True`` adds the Common Crawl
  ``request``/``metadata`` records threaded to their response via
  ``WARC-Concurrent-To``). The generator's
  ``lang`` column rides Common Crawl's real extension header
  ``WARC-Identified-Content-Language`` so a read-back reconstructs the
  full documents schema with zero side-channel.
* **Source** (`read_warc`): ``spark.read.format("binaryFile")`` over
  the ``.warc.gz`` glob → an Arrow-batched ``mapInPandas`` parser.
  One task per archive file — exactly the Common Crawl processing
  grain (files are sized ~1 GB for this reason; at 100 TB the *file
  list* is the parallelism axis, ~100k tasks, and Spark schedules
  them without any shuffle). Record framing follows the spec:
  ``WARC/1.0`` version line, CRLF header block, ``Content-Length``
  octet-exact body, CRLF CRLF record separator. Malformed records are
  skipped per-record (never fail the file); the HTTP block is split
  at the first CRLFCRLF per RFC 9112.

Scale notes: per-file tasks mean no skew beyond file-size variance
(Common Crawl files are uniform by construction); whole-file gzip is
used rather than per-record gzip members because the per-file task
never needs random access — offset-indexed member access (CDX-style)
only pays when fetching single records, not for bulk scans. The
parser is a single sequential pass per file, O(file) memory.
"""

from __future__ import annotations

import gzip
import io
import re
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

#: read-back schema == corpus.DOCUMENTS_SCHEMA (text stays NULL until
#: the extract stage, matching the parquet corpus exactly)
WARC_DOCS_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                    "text string, lang string")

_CRLF = b"\r\n"

# WARC-Date: WARC/1.0 is second-precision, WARC/1.1 allows 1-9
# fractional digits (spec §5.4)
_DATE_RE = re.compile(
    r"(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})(?:\.(\d{1,9}))?Z$")


def _warc_date(ts) -> str:
    """WARC-Date: UTC W3C-ISO8601 (spec §5.4). Naive timestamps are
    taken as UTC (the corpus generator's convention)."""
    if isinstance(ts, pd.Timestamp):
        ts = ts.to_pydatetime()
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _record(warc_type: str, headers: list[tuple[str, str]],
            body: bytes) -> bytes:
    """One WARC/1.0 record: version line, headers (incl. the
    octet-exact Content-Length), CRLF, body, CRLF CRLF (spec §4)."""
    head = [b"WARC/1.0"]
    head += [f"WARC-Type: {warc_type}".encode("ascii")]
    head += [f"{k}: {v}".encode("utf-8") for k, v in headers]
    head += [f"Content-Length: {len(body)}".encode("ascii")]
    return _CRLF.join(head) + _CRLF + _CRLF + body + _CRLF + _CRLF


def _http_block(payload: bytes) -> bytes:
    """Minimal stored HTTP/1.1 response (msgtype=response payloads
    embed the protocol block, spec annex; split back at first
    CRLFCRLF per RFC 9112)."""
    return (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n"
            + f"Content-Length: {len(payload)}\r\n\r\n".encode("ascii")
            + payload)


def _request_block(url: str) -> bytes:
    """Minimal stored HTTP/1.1 request (msgtype=request payloads)."""
    from urllib.parse import urlsplit

    parts = urlsplit(url)
    path = parts.path or "/"
    if parts.query:
        path += "?" + parts.query
    return (f"GET {path} HTTP/1.1\r\n"
            f"Host: {parts.netloc}\r\n\r\n").encode("utf-8")


def make_warc_file(rows: list[dict], filename: str = "part",
                   full_records: bool = False) -> bytes:
    """Serialize rows (url, warc_ts, html, lang) into one gzipped WARC
    file: warcinfo record + one response record per row. Record IDs
    are deterministic (url-derived) so output is reproducible.

    ``full_records=True`` emits the Common Crawl record triple per
    page — ``request``, ``response``, ``metadata`` in crawl order —
    with each request/metadata record's ``WARC-Concurrent-To`` header
    pointing at its response's ``WARC-Record-ID`` (spec §5.7
    concurrent-record threading). The reader keeps only response
    records either way, so read-back is identical."""
    buf = io.BytesIO()
    info = (b"software: multivac-spark\r\nformat: WARC File Format 1.0\r\n")
    chunks = [_record("warcinfo", [
        ("WARC-Record-ID", f"<urn:multivac:warcinfo:{filename}>"),
        ("WARC-Date", _warc_date(datetime(2020, 1, 1))),
        ("WARC-Filename", filename),
        ("Content-Type", "application/warc-fields"),
    ], info)]
    for r in rows:
        html = r["html"] if r["html"] is not None else b""
        rid = f"<urn:multivac:response:{r['url']}>"
        date = _warc_date(r["warc_ts"])
        if full_records:
            chunks.append(_record("request", [
                ("WARC-Record-ID", f"<urn:multivac:request:{r['url']}>"),
                ("WARC-Date", date),
                ("WARC-Target-URI", r["url"]),
                ("WARC-Concurrent-To", rid),
                ("Content-Type", "application/http; msgtype=request"),
            ], _request_block(r["url"])))
        hdrs = [
            ("WARC-Record-ID", rid),
            ("WARC-Date", date),
            ("WARC-Target-URI", r["url"]),
            ("Content-Type", "application/http; msgtype=response"),
        ]
        if r.get("lang"):
            # Common Crawl's real extension header (added 2018)
            hdrs.append(("WARC-Identified-Content-Language", r["lang"]))
        chunks.append(_record("response", hdrs, _http_block(html)))
        if full_records:
            meta = (f"fetchTimeMs: 0\r\n"
                    f"charset-detected: UTF-8\r\n").encode("ascii")
            chunks.append(_record("metadata", [
                ("WARC-Record-ID",
                 f"<urn:multivac:metadata:{r['url']}>"),
                ("WARC-Date", date),
                ("WARC-Target-URI", r["url"]),
                ("WARC-Concurrent-To", rid),
                ("Content-Type", "application/warc-fields"),
            ], meta))
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        for c in chunks:
            gz.write(c)
    return buf.getvalue()


def write_warc(docs: DataFrame, out_dir: str,
               full_records: bool = False) -> int:
    """Write a documents DataFrame as one ``.warc.gz`` per partition,
    executor-side (the sink never funnels bytes through the driver).
    Returns the number of rows written. Filenames are partition-
    indexed and deterministic for a fixed partitioning;
    ``full_records`` emits the request/response/metadata record
    triple per page (see ``make_warc_file``).

    **Filesystem contract**: ``out_dir`` must be a filesystem shared
    by executors and driver — local mode's local disk, or on a real
    cluster NFS / a FUSE-mounted object store (the standard mount for
    Python-side file writes; Python workers cannot reach the JVM's
    Hadoop FileSystem API from inside ``mapInPandas``). Writing to a
    worker-LOCAL path would scatter the part files across machines,
    so after the action the driver verifies every reported part file
    is visible at ``out_dir`` and raises if any is missing — a
    misconfigured path fails loudly instead of silently dropping
    archives."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    cols = ["url", "warc_ts", "html", "lang"]

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf[cols].to_dict("records"))
        if rows:
            rows.sort(key=lambda r: r["url"])  # stable within file
            name = f"part-{pid:05d}.warc.gz"
            data = make_warc_file(rows, name, full_records=full_records)
            tmp = os.path.join(out_dir, f".{name}.tmp")
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, os.path.join(out_dir, name))
            yield pd.DataFrame({"name": [name], "n": [len(rows)]})

    parts = (docs.select(*cols)
             .mapInPandas(dump, schema="name string, n long")
             .collect())  # bounded: one row per non-empty partition
    missing = [p["name"] for p in parts
               if not os.path.exists(os.path.join(out_dir, p["name"]))]
    if missing:
        raise RuntimeError(
            f"write_warc: {len(missing)} part file(s) not visible at "
            f"{out_dir!r} from the driver (e.g. {missing[:3]}); "
            "executors wrote to a non-shared filesystem — point "
            "out_dir at storage mounted on every node")
    return int(sum(p["n"] for p in parts))


def parse_warc_bytes(data: bytes) -> list[dict]:
    """Sequential single-pass parse of one (gzipped or plain) WARC
    file's bytes → row dicts. Spec framing: records are delimited by
    their octet-exact Content-Length plus the CRLF CRLF separator —
    NEVER by scanning for 'WARC/1.0' in content (payloads may contain
    it). Malformed records are skipped; parsing continues at the next
    well-formed boundary."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)  # handles concatenated members
    out: list[dict] = []
    pos, n = 0, len(data)
    while pos < n:
        # skip inter-record padding
        while pos < n and data[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        eol = data.find(_CRLF, pos)
        if eol < 0 or not data[pos:eol].startswith(b"WARC/"):
            break  # cannot re-frame without a version line
        hend = data.find(_CRLF + _CRLF, eol)
        if hend < 0:
            break
        headers: dict[str, str] = {}
        last_key = None
        for line in data[eol + 2:hend].split(_CRLF):
            if line[:1] in (b" ", b"\t") and last_key:
                # spec §4: header values may fold onto continuation
                # lines beginning with space/tab
                headers[last_key] = (
                    headers[last_key] + " "
                    + line.strip().decode("utf-8", "replace")).strip()
                continue
            k, _, v = line.partition(b":")
            last_key = k.strip().lower().decode("latin-1")
            headers[last_key] = v.strip().decode("utf-8", "replace")
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            break  # framing lost
        body = data[hend + 4:hend + 4 + clen]
        pos = hend + 4 + clen
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        date = headers.get("warc-date")
        if not url or not date:
            continue  # malformed record: skip, framing intact
        http_end = body.find(_CRLF + _CRLF)
        payload = body[http_end + 4:] if http_end >= 0 else b""
        # WARC/1.0 dates are second-precision; WARC/1.1 (spec §5.4)
        # allows 1-9 fractional digits — accept both, truncate to µs
        m = _DATE_RE.match(date)
        if not m:
            continue
        try:
            ts = datetime.strptime(m.group(1), "%Y-%m-%dT%H:%M:%S")
        except ValueError:
            continue
        if m.group(2):
            ts = ts.replace(
                microsecond=int(m.group(2)[:6].ljust(6, "0")))
        out.append({
            "url": url,
            "warc_ts": ts,
            "html": payload if payload else None,
            "text": None,
            "lang": headers.get("warc-identified-content-language"),
        })
    return out


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """``.warc[.gz]`` glob → documents DataFrame (url, warc_ts, html,
    text=NULL, lang). One task per file — the Common Crawl grain; the
    binaryFile source carries (path, content) and Spark parallelizes
    over the file list, so 100k archive files = 100k narrow tasks with
    no shuffle anywhere."""
    return parse_warc_files(spark.read.format("binaryFile")
                            .option("pathGlobFilter", "*.warc*")
                            .load(path))


# the binaryFile source's columns; a binaryFile stream must be given them
BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                      "length long, content binary")


def parse_warc_files(files: DataFrame) -> DataFrame:
    """binaryFile rows (batch or stream) → documents DataFrame (url,
    warc_ts, html, text=NULL, lang): one ``parse_warc_bytes`` per file
    in a ``mapInPandas``. A corrupt archive fails its task."""
    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for data in pdf["content"]:
                rows.extend(parse_warc_bytes(bytes(data)))
            if rows:
                yield pd.DataFrame(rows)

    return files.select("content").mapInPandas(parse,
                                               schema=WARC_DOCS_SCHEMA)
