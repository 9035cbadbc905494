"""Stage commits for the materialized pipeline → exact stage-level resume.

The reference "resumes" with file-existence checks and pickle
checkpoints (src/data/get.py:50,100,139; rdf_graph.py:137;
parsing.py:355-361). The rebuild's equivalent (SURVEY.md §4.3 #5):

* every stage is a ``plans.snapshots`` table at ``<base>/<stage>``;
  a commit writes a new version tagged with its ``run_id``, whose
  manifest entry records the footer row count of every output file,
  their total, ``wall_ms`` and the schema the output reads back with.
  The versions it supersedes are expired right after, so a stage
  keeps one data copy;
* ``resume`` = skip a stage whose current version belongs to this run
  and is still intact (``stage_complete``), re-reading it with the
  recorded schema instead of recomputing.

All of this bookkeeping runs on the driver: the stage's own write is
its only Spark job, and a resumed stage costs none until its output is
used. Single writer per output base (one build owns it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import snapshots


def stage_complete(spark: SparkSession, base_dir: str,
                   run_id: str, stage: str) -> bool:
    """A stage is complete iff its current version was committed by
    ``run_id`` and is ``snapshots.intact``. A crashed newer attempt
    writes its own version directory and never touches the committed
    one. Reads only the manifest and footers — no Spark job."""
    base = os.path.join(base_dir, stage)
    v = snapshots.current_version(base)
    return any(e["version"] == v and e["meta"].get("run_id") == run_id
               and snapshots.intact(base, e)
               for e in snapshots.history(base))


def run_or_resume(spark: SparkSession, base_dir: str, run_id: str,
                  stage: str, build,
                  partition_by: str | None = None) -> DataFrame:
    """If the stage is complete → re-read its output with the recorded
    schema; otherwise compute via ``build()``, commit it as the
    stage's next version and expire the older ones."""
    base = os.path.join(base_dir, stage)
    if not stage_complete(spark, base_dir, run_id, stage):
        snapshots.commit(spark, base, build(), meta={"run_id": run_id},
                         partition_by=partition_by)
        snapshots.expire(base, keep_last=1)
    return snapshots.read(spark, base)
