"""Snapshot layer for versioned parquet tables — Iceberg commit
semantics without the Iceberg runtime.

The north rule materializes the KG as Iceberg triple/entity/edge
tables; ``plans/tables.py`` reproduces Iceberg's *physical* layout
(bucket partitioning, clustered sorts) on plain parquet but, as its
docstring notes, "minus snapshot isolation". This module supplies that
missing half — the metadata layer Iceberg keeps in its snapshot log
(reference counterpart: the single-file pickle checkpoints at
``src/rdf_graph/rdf_graph.py:137`` (``all_tuples.pickle``) and
``src/data/parsing.py:312-324`` (``allDocsClean.pkl``), which keep
only ONE implicit version and no history):

* **commit** — write a new immutable version directory, then
  atomically swap a JSON manifest (``os.replace``). Readers follow the
  manifest pointer, so they see either the old snapshot or the new
  one, never a torn state. A crash between data-write and swap leaves
  an uncommitted directory named for the attempted version; the retry
  overwrites it in place and then swaps — no orphan survives a
  completed retry. The entry records each data file's footer row
  count, their total, the read schema and ``wall_ms``, so ``read``
  runs no Spark job and ``intact`` checks a version from the driver.
  The counts of ``streaming.kg_update`` and the build stages of
  ``plans.lineage`` are snapshots tables too.
* **time travel** — ``read(..., version=v)`` serves any retained
  snapshot; ``history`` lists the log (Iceberg: ``table.snapshots``).
* **rollback** — move the ``current`` pointer to an older snapshot
  without rewriting data (Iceberg: ``rollback_to_snapshot``). Later
  commits continue from the new current; abandoned snapshots stay
  readable until expired.
* **diff** — bag-semantics adds/removes between two snapshots
  (Iceberg: incremental scan between snapshot ids). Used by the KG
  maintenance flow to answer "which triples appeared in this
  refresh?" without re-reading the corpus.
* **expire** — retention: drop all but the last N snapshots (never
  the current one), metadata first, then data dirs — a crash between
  the two leaves only unreferenced dirs which the next expire removes
  (idempotent), mirroring Iceberg's expire_snapshots contract.

Single-writer by design (one maintenance job owns a table — the
AvailableNow drain model used throughout ``streaming/``); readers are
unlimited and never locked.

At 100 TB each snapshot directory holds the table's parquet files;
commit cost is the write of the NEW version only, and ``diff`` is one
hash-aggregate shuffle keyed on full rows — no driver materialization
anywhere in this module. On an object store the footer counts would
come from the commit's file list (an Iceberg snapshot summary).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

_MANIFEST = "_SNAPSHOTS.json"


def _read_manifest(base: str) -> dict:
    path = os.path.join(base, _MANIFEST)
    if not os.path.exists(path):
        return {"current": -1, "last_batch_id": -1, "snapshots": []}
    with open(path) as f:
        return json.load(f)


def _write_manifest(base: str, manifest: dict) -> None:
    # atomic pointer swap — readers see the old manifest or the new one
    fd, tmp = tempfile.mkstemp(dir=base, suffix=".manifest")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(base, _MANIFEST))


def _snapshot_dirname(version: int) -> str:
    return f"v{version:09d}"


def _data_dir(base: str, entry: dict) -> str:
    return os.path.join(base, entry["dir"], "data")


def _hidden(name: str) -> bool:
    return name.startswith(("_", "."))  # _SUCCESS, _temporary/, .crc


def footer_rows(out: str) -> dict[str, int]:
    """Row count of every data file under a parquet directory, keyed by
    its path relative to ``out``, read from the parquet footers — no
    Spark job. Walks ``col=value/`` partition directories."""
    rows = {}
    for d, dirs, files in os.walk(out):
        dirs[:] = [x for x in dirs if not _hidden(x)]
        for f in files:
            if not _hidden(f):
                p = os.path.join(d, f)
                rows[os.path.relpath(p, out)] = pq.read_metadata(p).num_rows
    return rows


def _nullable(t):
    """A schema's JSON value with every field, array element and map
    value nullable — how Spark writes parquet columns."""
    if not isinstance(t, dict):
        return t
    kind = t["type"]
    if kind == "struct":
        return {**t, "fields": [{**f, "nullable": True,
                                 "type": _nullable(f["type"])}
                                for f in t["fields"]]}
    if kind == "array":
        return {**t, "containsNull": True,
                "elementType": _nullable(t["elementType"])}
    if kind == "map":
        return {**t, "valueContainsNull": True,
                "keyType": _nullable(t["keyType"]),
                "valueType": _nullable(t["valueType"])}
    return t


def _read_schema(schema: StructType,
                 partition_by: str | None = None) -> StructType:
    """The schema ``spark.read.parquet`` infers for output written from
    ``schema``: all nullable, the partition column last. The partition
    column keeps its written type, where inference would guess one
    from the directory names (``int`` for a ``long`` column of small
    values)."""
    s = StructType.fromJson(_nullable(schema.jsonValue()))
    if partition_by:
        s = StructType([f for f in s.fields if f.name != partition_by]
                       + [s[partition_by]])
    return s


def _entry(manifest: dict, version: int) -> dict:
    for s in manifest["snapshots"]:
        if s["version"] == version:
            return s
    raise KeyError(f"snapshot v{version} not in history "
                   f"(retained: {[s['version'] for s in manifest['snapshots']]})")


def commit(spark: SparkSession, base: str, df: DataFrame,
           batch_id: int | None = None,
           meta: dict | None = None,
           partition_by: str | None = None) -> int:
    """Write ``df`` as the next snapshot of the table at ``base`` and
    make it current. Returns the new version number.

    ``batch_id`` (optional) makes the commit idempotent per batch:
    a re-commit with an already-applied batch_id is a no-op returning
    the current version — the upgrade from foreachBatch's
    at-least-once to exactly-once (the counts merge of
    ``streaming.kg_update`` relies on it).

    ``partition_by`` writes a directory-partitioned layout (e.g. the
    edges table's ``rel_bucket`` — see plans/tables.py for the
    Iceberg-transform equivalent). The write is the only Spark job.
    """
    t0 = time.time()
    os.makedirs(base, exist_ok=True)
    m = _read_manifest(base)
    if batch_id is not None and batch_id <= m["last_batch_id"]:
        return m["current"]
    version = 1 + max((s["version"] for s in m["snapshots"]), default=-1)
    entry = {"version": version,
             "dir": _snapshot_dirname(version),
             "parent": m["current"],
             "batch_id": batch_id,
             "meta": meta or {}}
    # data first (mode=overwrite: a crashed attempt at this same
    # version is replaced wholesale), manifest swap second
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(_data_dir(base, entry))
    files = footer_rows(_data_dir(base, entry))
    entry.update(files=files, rows=sum(files.values()),
                 schema=_read_schema(df.schema, partition_by).json(),
                 wall_ms=int((time.time() - t0) * 1000))
    m["snapshots"].append(entry)
    m["current"] = version
    if batch_id is not None:
        m["last_batch_id"] = batch_id
    _write_manifest(base, m)
    return version


def current_version(base: str) -> int:
    """Version the manifest points at; -1 before the first commit."""
    return _read_manifest(base)["current"]


def history(base: str) -> list[dict]:
    """The retained snapshot log, oldest first (Iceberg:
    ``SELECT * FROM tbl.snapshots``)."""
    return list(_read_manifest(base)["snapshots"])


def read(spark: SparkSession, base: str,
         version: int | None = None) -> DataFrame:
    """Read a snapshot — current by default, any retained version for
    time travel (Iceberg: ``VERSION AS OF``) — with the schema its
    commit recorded, so no Spark job infers it."""
    m = _read_manifest(base)
    if m["current"] < 0:
        raise ValueError(f"no snapshots committed at {base}")
    v = m["current"] if version is None else version
    e = _entry(m, v)
    schema = StructType.fromJson(json.loads(e["schema"]))
    return spark.read.schema(schema).parquet(_data_dir(base, e))


def intact(base: str, entry: dict) -> bool:
    """Whether version ``entry`` of the table at ``base`` still holds
    what its commit recorded: the per-file rows sum to the total, the
    write finished (``_SUCCESS``), and the data files on disk with
    their footer row counts are the recorded ones. No Spark job."""
    if sum(entry["files"].values()) != entry["rows"]:
        return False
    out = _data_dir(base, entry)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        return False
    try:
        return footer_rows(out) == entry["files"]
    except (OSError, ValueError):
        return False


def rollback(base: str, version: int) -> None:
    """Point ``current`` back at an older retained snapshot without
    touching data (Iceberg: ``rollback_to_snapshot``). The abandoned
    newer snapshots remain in the history (time-travel-readable) until
    expired; the next commit continues from the rolled-back current as
    its parent with a version number above every existing one."""
    m = _read_manifest(base)
    _entry(m, version)  # must be retained
    m["current"] = version
    _write_manifest(base, m)


def diff(spark: SparkSession, base: str,
         v_old: int, v_new: int) -> DataFrame:
    """Bag-semantics delta between two snapshots: rows of ``v_new``
    not in ``v_old`` tagged ``added``, rows of ``v_old`` not in
    ``v_new`` tagged ``removed`` (duplicates respected — a row whose
    multiplicity went 3→1 shows up twice as removed). One
    hash-aggregate shuffle per side via ``exceptAll``; never collected.
    """
    old = read(spark, base, v_old)
    new = read(spark, base, v_new)
    added = new.exceptAll(old).withColumn("change", F.lit("added"))
    removed = old.exceptAll(new).withColumn("change", F.lit("removed"))
    return added.unionByName(removed)


def expire(base: str, keep_last: int) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` snapshots.
    The current snapshot is always kept even if it is older than the
    cutoff (post-rollback state). Metadata is rewritten FIRST (atomic
    swap), data directories deleted second — a crash in between
    leaves only unreferenced directories, and because expired versions
    are gone from the manifest, re-running expire (or ``_sweep``) at
    any later point removes them; nothing ever resurrects.

    Returns the expired version numbers.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    m = _read_manifest(base)
    versions = sorted(s["version"] for s in m["snapshots"])
    keep = set(versions[-keep_last:])
    keep.add(m["current"])
    expired = [v for v in versions if v not in keep]
    if expired:
        m["snapshots"] = [s for s in m["snapshots"]
                          if s["version"] in keep]
        _write_manifest(base, m)
    _sweep(base)
    return expired


def _sweep(base: str) -> None:
    """Delete any version directory the manifest no longer references
    — the idempotent cleanup half of ``expire`` (also clears debris
    from a commit attempt that died before its first manifest swap
    AND was never retried; safe because an in-flight retry overwrites
    its directory wholesale before swapping)."""
    m = _read_manifest(base)
    live = {s["dir"] for s in m["snapshots"]}
    for name in os.listdir(base):
        if (name.startswith("v") and name not in live
                and os.path.isdir(os.path.join(base, name))):
            shutil.rmtree(os.path.join(base, name))
