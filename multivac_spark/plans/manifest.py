"""Atomic JSON manifests: the one way a table version is committed.

A manifest is a small JSON file next to the data it describes. A
commit writes the data first and then swaps the manifest with
``os.replace``, so a reader sees either the old manifest or the new
one, never a torn file. Used by ``plans.lineage`` (``_LINEAGE.json``)
and ``plans.snapshots`` (``_SNAPSHOTS.json``, also the counts table of
``streaming.kg_update``). Append-only incremental tables are stream
file sinks instead (``streaming.ingest.append_available_now``).
Single writer per manifest; readers never lock.
"""

from __future__ import annotations

import json
import os
import tempfile


def read_json(path: str, default: dict) -> dict:
    """The manifest at ``path``, or ``default`` before the first commit."""
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def write_json(path: str, manifest: dict) -> None:
    """Atomically replace the manifest at ``path``."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".manifest")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, path)
