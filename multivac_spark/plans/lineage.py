"""Stage commits for the materialized pipeline → exact stage-level resume.

The reference "resumes" with file-existence checks and pickle
checkpoints (src/data/get.py:50,100,139; rdf_graph.py:137;
parsing.py:355-361). The rebuild's equivalent (SURVEY.md §4.3 #5):

* every stage overwrites its parquet directory under the output base,
  then appends one entry per committed attempt to the ``_LINEAGE.json``
  manifest there (an atomic ``os.replace`` swap, ``plans.manifest``):
  ``run_id``, ``stage``, ``attempt_id``, the row count of every output
  file read from its parquet footer, their total and ``wall_ms``, plus
  the schema the output reads back with;
* ``resume`` = skip a stage whose latest entry still describes what is
  on disk (``stage_complete``), re-reading its parquet with the
  recorded schema instead of recomputing.

All of this bookkeeping runs on the driver: the stage's own write is
its only Spark job, and a resumed stage costs none until its output is
used. Single writer per output base (one build owns it); the local
filesystem is assumed, as for the ``_SUCCESS`` check. On an object
store the same entry would be a table-format commit (Iceberg snapshot
summary), with footer counts taken from the commit's file list.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .manifest import read_json, write_json

_MANIFEST = "_LINEAGE.json"


def _manifest_path(base_dir: str) -> str:
    return os.path.join(base_dir, _MANIFEST)


def _hidden(name: str) -> bool:
    # Spark's readers skip these: _SUCCESS, _temporary/, .crc files
    return name.startswith(("_", "."))


def footer_rows(out: str) -> dict[str, int]:
    """Row count of every data file under a stage directory, keyed by
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
    ``schema``: all nullable, the partition column last."""
    s = StructType.fromJson(_nullable(schema.jsonValue()))
    if partition_by:
        s = StructType([f for f in s.fields if f.name != partition_by]
                       + [s[partition_by]])
    return s


def _read_stage(spark: SparkSession, base_dir: str, stage: str,
                schema_json: str) -> DataFrame:
    schema = StructType.fromJson(json.loads(schema_json))
    return spark.read.schema(schema).parquet(os.path.join(base_dir, stage))


def write_stage(spark: SparkSession, df: DataFrame, base_dir: str,
                run_id: str, stage: str,
                partition_by: str | None = None) -> DataFrame:
    """Write stage output, then commit its manifest entry; returns the
    output re-read with the recorded schema.

    The entry is appended only after the write has finished, so a
    crash at any point before the swap leaves no entry for this
    attempt; ``attempt_id`` is monotonic so the latest entry wins.

    ``partition_by`` writes a directory-partitioned layout (e.g. the
    edges table's ``rel_bucket`` — see plans/tables.py for the
    Iceberg-transform equivalent)."""
    out = os.path.join(base_dir, stage)
    t0 = time.time()
    attempt = time.time_ns()
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(out)
    files = footer_rows(out)
    schema = _read_schema(df.schema, partition_by).json()
    m = read_json(_manifest_path(base_dir), {"attempts": []})
    m["attempts"].append({"run_id": run_id, "stage": stage,
                          "attempt_id": attempt, "files": files,
                          "rows": sum(files.values()), "schema": schema,
                          "wall_ms": int((time.time() - t0) * 1000)})
    write_json(_manifest_path(base_dir), m)
    return _read_stage(spark, base_dir, stage, schema)


def _committed(base_dir: str, run_id: str, stage: str) -> dict | None:
    """The latest entry of (run_id, stage) if it is complete, else None."""
    m = read_json(_manifest_path(base_dir), {"attempts": []})
    mine = [a for a in m["attempts"]
            if a["run_id"] == run_id and a["stage"] == stage]
    latest = max(mine, key=lambda a: a["attempt_id"], default=None)
    if latest is None or latest.get("rows") is None:
        return None
    if sum(latest["files"].values()) != latest["rows"]:
        return None
    out = os.path.join(base_dir, stage)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        return None
    try:
        on_disk = footer_rows(out)
    except (OSError, ValueError):
        return None
    return latest if on_disk == latest["files"] else None


def stage_complete(spark: SparkSession, base_dir: str,
                   run_id: str, stage: str) -> bool:
    """A stage is complete iff its LATEST entry carries its marker
    total, that entry's per-file rows sum to the total, the output
    directory has a finished write's ``_SUCCESS``, and the data files
    on disk with their footer row counts are exactly the ones the
    entry recorded. The last check catches a newer attempt that
    overwrote the output and crashed before its manifest swap: the
    older entry then names files that are gone, so the stage is
    recomputed. Reads only the manifest and footers — no Spark job."""
    return _committed(base_dir, run_id, stage) is not None


def run_or_resume(spark: SparkSession, base_dir: str, run_id: str,
                  stage: str, build,
                  partition_by: str | None = None) -> DataFrame:
    """If the stage's manifest says complete → re-read its output with
    the recorded schema; otherwise compute via ``build()`` and commit."""
    entry = _committed(base_dir, run_id, stage)
    if entry is not None:
        return _read_stage(spark, base_dir, stage, entry["schema"])
    return write_stage(spark, build(), base_dir, run_id, stage,
                       partition_by=partition_by)
