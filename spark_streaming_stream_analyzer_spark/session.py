"""SparkSession builder.

Local test profile mirrors the driver environment (``local[N]`` with
``SPARK_GRAFT_CPUS`` threads); the config block is written so the same
settings are what we would ship on a multi-executor cluster: AQE on
(runtime re-planning, skew-join splitting, partition coalescing),
shuffle partitions sized to the parallelism, Arrow enabled for any
Pandas-UDF path, UTC session timezone for deterministic timestamp
semantics against the DuckDB oracle. Timestamp columns are parquet
``timestamp[us]``; Spark refuses a nanosecond parquet timestamp at
read (``PARQUET_TYPE_ILLEGAL``). Every registered op runs on an
``op_session`` child, which carries its own copy of the op settings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def spark_cpus() -> int:
    """Local-mode core count: ``SPARK_GRAFT_CPUS`` when set, else the
    CPUs this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def op_session(spark: SparkSession) -> SparkSession:
    """A child of ``spark`` for one op: same SparkContext, own SQL conf,
    temp views and functions, so an op never touches the caller's
    session. Shuffle partitions (for a stream, the state-store count,
    fixed at a checkpoint's first run) follow the core count; UTC as
    in ``get_spark``.

    Trade-off: the child inherits builder/SparkConf settings but not
    the caller's runtime ``conf.set`` values. Every op, batch or
    stream, uses ``spark_cpus()`` shuffle partitions: unchanged under
    ``get_spark``, where that is the default, but in place of a bare
    builder's 200 or a caller's own runtime setting."""
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", str(spark_cpus()))
    child.conf.set("spark.sql.session.timeZone", "UTC")
    return child


def get_spark(
    app_name: str = "spark_streaming_stream_analyzer_spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = spark_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # ---- scale-minded defaults (identical on a real cluster) ----
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # local mode: single JVM — driver memory is the only knob
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # the \r-rewriting console progress bar interleaves with (and
        # silently overwrites) selfcheck/bench per-query lines when
        # stdout is a captured pipe — logs must stay line-oriented
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
