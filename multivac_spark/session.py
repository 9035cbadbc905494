"""SparkSession factory with scale-oriented defaults, and the one
staging rule.

The knobs below are the ones that matter at 100 TB (AQE, skew-join
handling, shuffle partition sizing, Arrow batch size for the pandas-UDF
boundary); locally they are simply harmless.

``stage`` is the one way the package materializes an intermediate
that several consumers (or loop rounds) read: a local checkpoint by
default, a reliable one when the deployment has set a checkpoint
directory and the stage is eager. ``stats_barrier`` is ``stage`` plus
a fresh-scan rebuild, for frames an iterative loop joins against
themselves.

``driver_frame`` is the one driver-route rule: an operator with a
driver kernel and a distributed loop hands it its input, and one
bounded Arrow collect both sizes that input against ``DRIVER_ROWS``
and, when it fits, is all the driver kernel reads. The operators with
a driver route: ``canon.cluster_entities``,
``canon.connected_components``, ``analytics.eigenvector_centrality``,
``analytics.pagerank`` and ``analytics.frontier_reach`` (the walk
under ``analytics.k_hop`` and the SPARQL property paths, whose
reached pairs the same cap bounds), plus the answer service's
``query.DriverKG``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

# the row cap of every driver route: an operator's input of at most this
# many rows runs its driver kernel, a larger one its distributed loop
DRIVER_ROWS = 1_000_000


def get_spark(
    app_name: str = "multivac_spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``); ``kgbench`` and the tier-1 tests pin
    ``SPARK_GRAFT_CPUS`` to the host's core count.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting. Zipfian predicate /
        # head-entity keys (SURVEY.md §4.3) make this mandatory at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        # Arrow boundary for the NLP pandas UDFs: html payloads can be
        # large, cap rows per batch so a batch stays O(tens of MB).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # 128 MB scan splits: the documents table rows are ~KB-sized, this
        # keeps task counts sane at 100 TB while bounding task memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stage(df, eager: bool = True):
    """Materialize ``df`` once so every consumer reads the stored rows
    instead of re-running its plan; the one staging rule of the
    package.

    An eager stage is ``df.localCheckpoint()`` — executor-local blocks,
    lost with their executor — unless the deployment has set a
    checkpoint directory (``SparkContext.setCheckpointDir``), in which
    case it is the reliable ``df.checkpoint()`` written under that
    directory, which survives executor loss. Either way the lineage is
    cut, and the origin plan's statistics ride along (SPARK-39748).

    ``eager=False`` defers the materialization to the first action
    that reads the frame; a plan with no shuffle then runs no job here
    (AQE still runs a shuffle plan's stage jobs at staging time). A
    lazy stage is always ``df.localCheckpoint(False)``, whatever the
    directory: Spark writes a lazy reliable checkpoint in a job of its
    own after that first action, which computes the plan a second time.
    Durable outputs do not depend on it: a committed build's tables are
    ``plans.snapshots`` versions.
    """
    if eager and df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint()
    return df.localCheckpoint(eager)


def driver_frame(df):
    """``df``'s rows as a pandas frame when there are at most
    ``DRIVER_ROWS`` of them, else None; the one driver-route rule of
    the package.

    One Arrow ``toPandas()`` of ``df.limit(DRIVER_ROWS + 1)`` sizes the
    input, and when it fits, that frame is all the caller's driver
    kernel reads: nothing is counted or staged before the choice. The
    frame keeps ``df``'s row order, so an ordered top-N stays ordered.
    Over the cap the probe has collected ``DRIVER_ROWS + 1`` rows, which
    are discarded, and the caller's distributed route reads ``df`` from
    its plan. Tests force a route by patching ``DRIVER_ROWS``.
    """
    pdf = df.limit(DRIVER_ROWS + 1).toPandas()
    return pdf if len(pdf) <= DRIVER_ROWS else None


def stats_barrier(df):
    """``stage`` ``df`` and rebuild it as a fresh scan with default
    statistics — the lineage cut for iterative self-join loops.

    Why ``stage`` alone is not enough: Catalyst's
    size-only estimator (``SizeInBytesOnlyStatsPlanVisitor.visitJoin``)
    sets a join's ``sizeInBytes`` to the PRODUCT of its children's
    sizes, and since SPARK-39748 a checkpointed ``LogicalRDD`` carries
    the origin plan's statistics forward. In a loop whose state frame
    is joined against itself (pointer-doubling connected components,
    power iteration), the carried BigInt therefore at least squares
    every round — measured: 54 → 10,249 bits in 8 rounds WITH a
    per-round checkpoint — until the driver serializes every
    stats lookup on one core inside ``BigInteger.multiplyToomCook3``
    over numbers with millions of digits (the 40-minute "idle
    executors, one pegged JVM core" failure mode).

    The rebuild goes through ``SparkSession.internalCreateDataFrame``
    on the checkpointed plan's ``InternalRow`` RDD — zero-copy, fully
    JVM-side — with a ``createDataFrame(JavaRDD[Row], schema)``
    fallback if the package-private method is unavailable. The new
    scan reports ``spark.sql.defaultSizeInBytes`` (effectively
    "huge"), so a barrier'd frame is never auto-broadcast: loop-state
    frames are probe sides, which is the safe direction; broadcast
    anything downstream explicitly.

    The loop rule of the package: each round of a distributed graph
    loop (``canon.connected_components``,
    ``analytics.eigenvector_centrality``, ``pagerank``,
    ``frontier_reach``) is one ``stats_barrier(nxt.observe(obs, ...))``
    whose staging job also computes the round's stop test, read from
    ``obs.get``: one Spark job per round (under AQE, plus one per
    shuffle stage of its own plan), and no round re-runs an earlier
    round's shuffles, on the local and the reliable checkpoint alike.
    """
    from pyspark.sql import DataFrame

    spark = df.sparkSession
    ck = stage(df)
    jspark = spark._jsparkSession
    try:
        jdf = jspark.internalCreateDataFrame(
            ck._jdf.queryExecution().toRdd(), ck._jdf.schema(), False)
    except Exception:  # pragma: no cover - py4j visibility fallback
        jdf = jspark.createDataFrame(ck._jdf.javaRDD(), ck._jdf.schema())
    return DataFrame(jdf, spark)
