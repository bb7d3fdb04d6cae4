"""Execution-policy operators (SURVEY.md §2.1 #15, #16).

The reference's two policy knobs — the 2-second micro-batch clock
(``new Duration(2000)``, ``KafkaStreamAverageCalculator.java:64-65``)
and the mandatory state checkpoint dir (``jssc.checkpoint("./
spark_cache")``, ``:70``) — map to ``trigger(processingTime=...)`` and
``option("checkpointLocation", ...)`` on a Structured Streaming query.

Both are exposed as oracle-checked queries, not just config: the
trigger query runs the flagship under a real processing-time clock and
drains the source; the checkpoint query is a two-run RECOVERY drill —
run 1 aggregates half the stream and stops, run 2 starts from the same
checkpoint, reads only the remaining half, and must produce the
whole-stream answer from restored state. Equality with the batch
oracle is exactly Structured Streaming's prefix-consistency contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.stats import running_stats, stats_oracle_sql
from ..sources.tables import load_table
from .pipelines import (
    _cleanup_tmp_dirs,
    _run_to_memory,
    _tracked_tmp_dir,
    events_file_stream,
)


def trigger_microbatch_2s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #15 — the flagship stats under ``trigger(processingTime=
    "2 seconds")`` (the reference's batch clock). The source is drained
    (``processAllAvailable``) and the query stopped; the complete-mode
    result equals the batch answer.
    """
    events = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    return _run_to_memory(
        running_stats(events, "event_type", "value"),
        output_mode="complete",
        trigger={"processingTime": "2 seconds"},
    )


TRIGGER_2S_SQL = stats_oracle_sql("events", "event_type", "value")


def ckpt_state_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #16 — checkpoint-based state recovery. The fixture stream is
    split into two halves staged as separate files; run 1 processes
    half A and stops (state persisted under the checkpoint dir); run 2
    reuses the checkpoint, reads only half B (offsets restored), and
    its complete-mode output must equal the full-stream aggregate —
    i.e. per-key state really was restored, not recomputed.
    """
    events = load_table(spark, sf_dir, "events")

    src_dir = _tracked_tmp_dir("sgs_ckpt_src")
    stage_dir = _tracked_tmp_dir("sgs_ckpt_stage")
    ckpt_dir = _tracked_tmp_dir("sgs_ckpt_dir")
    os.makedirs(src_dir)

    def stage_half(name: str, predicate) -> None:
        # write.parquet produces a DIRECTORY of part files; the file
        # stream source lists plain files only → flatten by linking
        # the parts into src_dir as top-level files
        out = os.path.join(stage_dir, name)
        events.filter(predicate).coalesce(1).write.parquet(out)
        parts = [f for f in os.listdir(out) if f.endswith(".parquet")]
        for i, part in enumerate(parts):
            os.link(
                os.path.join(out, part), os.path.join(src_dir, f"{name}_{i}.parquet")
            )

    try:
        # halves by event_id parity — deterministic, key-spanning split
        stage_half("half_a", F.col("event_id") % 2 == 0)

        def pipeline() -> DataFrame:
            # the staged halves carry the staged frame's own schema
            stream = (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            return running_stats(stream, "event_type", "value")

        _run_to_memory(
            pipeline(), output_mode="complete", checkpoint_dir=ckpt_dir
        )
        # second half arrives while the query is DOWN
        stage_half("half_b", F.col("event_id") % 2 == 1)
        # the memory sink holds the rows once the query drains
        out = _run_to_memory(
            pipeline(), output_mode="complete", checkpoint_dir=ckpt_dir
        )
    finally:
        _cleanup_tmp_dirs([src_dir, stage_dir, ckpt_dir])
    return out


CKPT_STATE_SQL = stats_oracle_sql("events", "event_type", "value")
