"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check on sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable.
``oracle_sql()`` — DuckDB-runnable ANSI SQL mirror for each query
(omitted only for genuinely non-SQL-expressible ops, which the driver
checks rows-only).

Implementation lives in the ``spark_streaming_stream_analyzer_spark`` package; this module
just re-exports the registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_streaming_stream_analyzer_spark import registry  # noqa: E402
from spark_streaming_stream_analyzer_spark.operators.stats import running_stats  # noqa: E402
from spark_streaming_stream_analyzer_spark.session import op_session  # noqa: E402
from spark_streaming_stream_analyzer_spark.sources.tables import load_table  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-key running statistics over the events stream
    (batch form of the reference's KafkaStreamAverageCalculator job)."""
    spark = op_session(spark)
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    return running_stats(events, "user_id", "value")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(registry.ORACLES)
