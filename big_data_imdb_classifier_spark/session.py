"""SparkSession factory with a scale-aware config profile.

Replaces the reference's ad-hoc builder (movie_pipeline/classifier_pipeline.py:89-95:
appName + 8g driver/executor + 2g off-heap) with a profile that keeps the
same memory-tuning intent but adds the settings that matter for correctness
(UTC session timezone so results are oracle-comparable) and for scale
(AQE, skew-join handling, Arrow, shuffle partitions sized to the actual
parallelism instead of the 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Core defaults applied to every session this engine builds. On a real
# cluster these are overridden by spark-submit/cluster conf; locally they
# make `local[N]` behave like a well-tuned single node.
_DEFAULTS = {
    # Correctness: DuckDB oracle timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: partition coalescing, SMJ->BHJ conversion,
    # skew-join splitting. Free wins at any scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas boundary (pandas_udf / mapInPandas / toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs cross the JVM/Python boundary through Arrow batches
    # too (ArrowEvalPythonUDTF instead of pickled-row BatchEvalPythonUDTF).
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # ANSI off: we want permissive casts like the reference's '\\N' repair
    # path, and DuckDB comparisons are done on already-clean data.
    "spark.sql.ansi.enabled": "false",
    # Parquet TIMESTAMP(NANOS) (pandas/arrow default) is otherwise
    # unreadable by Spark; read as long and let the reader layer convert
    # back to TimestampType (sources/readers.py:load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
}

# Logger of the class that checks every file-source path for a streaming
# sink's metadata directory (Spark 4.1 package).
FILE_STREAM_SINK_LOGGER = "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"


def driver_memory() -> str:
    """``spark.driver.memory`` for this host: half of physical memory in
    whole GiB, capped at 16g, at least 1g.

    Single-JVM local mode: the driver heap IS the executor heap, shared
    by all local[N] task threads. The default 1g cannot hold a 300-tree
    depth-15 RF model (reference-parity hyperparams; the reference
    itself runs 8g, classifier_pipeline.py:91), and tree-ensemble task
    binaries deserialize PER TASK, so peak heap scales with concurrent
    tasks and 32-way local parallelism needs headroom beyond the
    reference's 8g. A fixed 16g on a 15 GB host lets one JVM take the
    whole machine, so the cap follows physical memory. Applies only at
    JVM launch: getOrCreate on a live session ignores it.
    """
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 2**30 // 2))}g"


def session_conf(
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf ``get_spark`` builds with: the profile defaults, the
    host's driver heap and shuffle partitions, then ``extra_conf``,
    which wins over all of them."""
    n_shuffle = str(shuffle_partitions or default_parallelism())
    return {
        **_DEFAULTS,
        "spark.driver.memory": driver_memory(),
        "spark.sql.shuffle.partitions": n_shuffle,
        "spark.default.parallelism": n_shuffle,
        **(extra_conf or {}),
    }


def default_parallelism() -> int:
    """Shuffle-partition count: env override, else CPU count."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "big_data_imdb_classifier_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's config profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests, bench and the driver contract all share one
    code path.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # A glob read first looks for a streaming sink's metadata directory at
    # the glob path and logs a WARN with a FileNotFoundException stack
    # trace when there is none, i.e. on every glob read.
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(FILE_STREAM_SINK_LOGGER, log4j.Level.ERROR)
    return spark


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
) -> dict[str, str]:
    """Recommended conf overlay for a REAL cluster run at ~100 TB — the
    deployment twin of the local profile above. Not applied by
    get_spark() (cluster managers own resources); pass to spark-submit
    or ``get_spark(extra_conf=cluster_conf())`` on a cluster session.
    Every value states its sizing rule so an operator can re-derive it
    for a different fleet.

    Sizing logic, for the default 1000 × 4-core shape:

    * shuffle partitions = 2 × total cores (two task waves): at 100 TB
      a full-input shuffle then lands ~12 GB per partition pre-AQE, so
      wide stages rely on AQE coalescing DOWN being cheap while spilling
      stages should instead raise this toward input_bytes / 256 MB —
      the number is a floor, not a ceiling.
    * maxPartitionBytes 256m: scan tasks sized so a 100 TB table yields
      ~400k scan tasks — large enough to amortize task overhead, small
      enough that one straggling row-group doesn't stall a stage.
    * Kryo + registrationRequired=false: tuple-heavy shuffles serialize
      2-4× smaller/faster than Java serialization.
    * speculation: stragglers are the norm at 4000-way parallelism.
    * broadcast threshold 64m: dims up to ~nation/part scale broadcast
      even with wide rows; anything bigger should be a shuffle join on
      purpose, not by accident.
    * shuffle.service + dynamicAllocation: executors can be reclaimed
      between stages without losing shuffle files.
    """
    total_cores = executors * cores_per_executor
    # 2 full waves of tasks per shuffle stage; AQE coalesces small
    # shuffles below this, and skew-split raises hot partitions above it.
    shuffle_parts = total_cores * 2
    return {
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.default.parallelism": str(shuffle_parts),
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.speculation": "true",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
        "spark.shuffle.service.enabled": "true",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": str(executors),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }
