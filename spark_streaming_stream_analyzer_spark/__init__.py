"""spark_streaming_stream_analyzer_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference ``mbero/spark_streaming_stream_analyzer`` (a Spark 2.1 DStream
Kafka-statistics job), re-expressed Spark-first:

- DataFrame / Spark SQL for all relational work (Catalyst + Tungsten
  pick the physical strategy),
- Structured Streaming for the streaming jobs (unified batch/stream
  pipeline bodies),
- Pandas UDFs / ``applyInPandas`` only where built-ins genuinely cannot
  express the semantics (exact-parity positional state, multimodal
  decode).

Layout:
    session.py    SparkSession builder tuned for local[32] test runs and
                  cluster-scale defaults (AQE, shuffle partitions, Arrow),
                  and ``op_session``, the child session every op runs on.
    registry.py   Every operator as a (spark, sf_dir) query plus its
                  DuckDB oracle.
    sources/      Table loaders (parquet fixtures), Kafka/file stream
                  source builders.
    functions/    Column-expression packs: exact fixed-point money math,
                  portable (Spark==DuckDB) hashing, JSON helpers.
    operators/    The operator inventory from SURVEY.md §2 plus the
                  extended relational + LLM-data-pipeline surface.
    streaming/    Streaming pipelines incl. exact-parity stateful op.

Functions and classes of this package that run on Python workers (state
updaters, grouped-map UDFs, Python data sources) are pickled by value,
so a worker never imports the package from disk: that import fails
whenever the driver's working directory is not the repo root. Code that
runs on a worker therefore imports package names at module level, not
inside the function body.
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

cloudpickle.register_pickle_by_value(sys.modules[__name__])
