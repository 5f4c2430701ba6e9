"""SparkSession factory with scale-oriented defaults.

All engine jobs and tests go through :func:`get_spark` so that AQE, Arrow,
UTC session time, and shuffle sizing are consistent everywhere. These are the
physical-execution knobs SURVEY.md §4.2 calls out as required (AQE skew join,
advisory partition size) — on a real cluster the same builder is used by the
``spark-submit --py-files`` entry points in ``jobs/``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etna-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores). On a
    cluster, pass ``None`` and let spark-submit supply the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # size shuffles to the local parallelism; on a 1000-executor cluster
        # this would be set to ~2-3x total cores via spark-submit conf.
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(n)))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # deterministic time semantics: everything is UTC, matching the
        # naive-UTC timestamps in parquet and the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting (north-rule backstop
        # for hot doc_id/source keys; explicit salting is the primary tool).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Advisory kept small: AQE sizes post-shuffle partitions by SHUFFLE
        # bytes, but downstream per-row work (window chains, Arrow pUDFs) is
        # often 10-50x the shuffle bytes — a 64m advisory coalesces a tier
        # shuffle to 1-3 partitions and serializes everything after it.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4m")
        # Arrow: all pandas-UDF traffic is Arrow-batched; bound batch size so
        # per-series kernels never materialize unbounded memory.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scan sizing — at 100 TB this keeps input splits ~128 MB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # PySpark wraps every Column method and F.* function in call-site
        # capture: a stack walk plus extra JVM round trips per call, paid
        # while a plan is built on the driver (with the SQL-text operators,
        # a perfbench query_dedup round went from 4,229 py4j calls to 863).
        # The cost: an error raised for a Column expression no longer
        # carries the Python file:line that built it; the JVM error still
        # names the expression. PySpark reads this once per process, from
        # the first active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
