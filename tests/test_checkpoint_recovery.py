"""Checkpoint-restart recovery: a streaming query killed between
micro-batches must RESUME from its checkpoint — re-ingesting only the
files it has not committed, with per-key state restored — and land on
the same final answer as an uninterrupted run. This is the durability
half of Structured Streaming's exactly-once contract (the batch-split
half, prefix equivalence, is tests/test_batch_boundaries.py): at
100 TB a multi-hour ingest WILL be preempted, and a restart that
silently reprocessed (double counts) or cold-started (dropped state)
would corrupt every downstream mart.

Shape: stage the time-ordered first half of the events corpus, run an
availableNow pass against a checkpoint, then add the second half and
restart the SAME pipeline on the SAME checkpoint under a new query.
The file source's seen-files log lives in the checkpoint, so the
second run must ingest exactly the new files; the state store must
carry the first run's aggregates.
"""

from __future__ import annotations

import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spark_streaming_stream_analyzer_spark.session import op_session
from spark_streaming_stream_analyzer_spark.sources.tables import (
    clean_measurements,
)
from spark_streaming_stream_analyzer_spark.streaming.state import (
    exact_state_stats,
)

SRC = "/root/testdata/sf0.001"


@pytest.fixture()
def split_corpus(tmp_path):
    """events.parquet as 4 time-ordered part files with forced
    strictly-increasing mtimes (the staging contract: the file source
    orders by ms-granularity mtime, not name). Parts 0-1 are staged
    up front; the fixture returns a callable that adds parts 2-3
    with LATER mtimes, plus the per-half row counts."""
    tb = pq.read_table(os.path.join(SRC, "events.parquet"))
    tb = tb.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    per = -(-tb.num_rows // 4)
    parts = [tb.slice(i * per, per) for i in range(4)]
    src = tmp_path / "src"
    os.makedirs(src)
    base = 1_000_000_000

    def _write(i: int) -> None:
        p = str(src / f"part-{i:05d}.parquet")
        pq.write_table(parts[i], p)
        os.utime(p, (base + 2 * i, base + 2 * i))

    _write(0)
    _write(1)

    def add_second_half() -> None:
        _write(2)
        _write(3)

    first_rows = parts[0].num_rows + parts[1].num_rows
    second_rows = parts[2].num_rows + parts[3].num_rows
    return str(src), add_second_half, first_rows, second_rows


def _ingested_rows(query) -> int:
    return sum(int(p["numInputRows"]) for p in query.recentProgress)


def test_restart_resumes_complete_mode_aggregate(spark, split_corpus, tmp_path):
    src, add_second_half, first_rows, second_rows = split_corpus
    ckpt = str(tmp_path / "ckpt")
    child = op_session(spark)
    schema = child.read.parquet(src).schema

    def pipeline():
        stream = (
            child.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            clean_measurements(stream)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.round(F.col("value") * 100).cast("long")
                ).alias("sum_c"),
            )
        )

    def run(name: str) -> object:
        q = (
            pipeline()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    n1, n2 = (f"ckrec_{uuid.uuid4().hex[:10]}" for _ in range(2))
    q1 = run(n1)
    assert _ingested_rows(q1) == first_rows
    add_second_half()
    q2 = run(n2)
    # the seen-files log in the checkpoint means the restart ingests
    # ONLY the new parts — a cold start would re-read all four
    assert _ingested_rows(q2) == second_rows

    final = {
        r["event_type"]: (r["n"], r["sum_c"])
        for r in child.table(n2).collect()
    }
    ev = clean_measurements(spark.read.parquet(src))
    expected = {
        r["event_type"]: (r["n"], r["sum_c"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_c"),
        )
        .collect()
    }
    # full-corpus totals out of a half-corpus second run: the state
    # store carried the first run's counts across the restart
    assert final == expected


def test_restart_resumes_grouped_state_kernel(spark, split_corpus, tmp_path):
    """Same restart contract for the flagship applyInPandasWithState
    kernel: GroupState survives the checkpoint boundary, so the final
    per-key emission after a restart equals an uninterrupted run's."""
    import pandas as pd

    src, add_second_half, first_rows, second_rows = split_corpus
    child = op_session(spark)
    schema = child.read.parquet(src).schema

    def run(ckpt: str, emissions: list) -> object:
        stream = (
            child.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = exact_state_stats(clean_measurements(stream), "event_type")

        def sink(df, _bid):
            pdf = df.toPandas()
            if len(pdf):
                emissions.append(pdf)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    def finals(emissions: list) -> dict:
        all_rows = pd.concat(emissions, ignore_index=True)
        # final emission per key = highest counter (counters strictly
        # grow per data batch — same serving rule as the registered op)
        all_rows = all_rows.sort_values("counter").groupby("readTag_id").tail(1)
        return {
            r.readTag_id: (int(r.counter), float(r.summer), float(r.var))
            for r in all_rows.itertuples()
        }

    # interrupted run: first half, restart, second half
    ckpt_a = str(tmp_path / "ckpt_a")
    ems: list = []
    run(ckpt_a, ems)
    add_second_half()
    q2 = run(ckpt_a, ems)
    assert _ingested_rows(q2) == second_rows
    interrupted = finals(ems)

    # uninterrupted single pass over all four parts, fresh checkpoint
    ems_ref: list = []
    run(str(tmp_path / "ckpt_b"), ems_ref)
    assert interrupted == finals(ems_ref)
