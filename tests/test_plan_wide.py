"""Engine-wide physical-plan invariants over the whole registry.

The scale non-negotiables, enforced for every registered batch query:
no row-at-a-time Python evaluation anywhere (BatchEvalPython), Python
only via Arrow-batched operators (MapInPandas / AggregateInPandas) and
only in the operators that declare it, and every parquet scan carrying
a pruned ReadSchema (never reading a table's full width when a proper
subset of columns suffices).
"""

from __future__ import annotations

import re

import pytest

from spark_streaming_stream_analyzer_spark import registry

#: Queries that execute eagerly inside their builder (streaming runs,
#: write+readback roundtrips) — the final DataFrame's plan is a memory/
#: local scan, not the pipeline, so plan inspection is meaningless.
EAGER = {
    "stream_running_stats",
    "stream_windowed_wordcount",
    "stream_stats_exact_state",
    "stream_static_join",
    "stream_stream_join",
    "stream_session_window",
    "stream_batch_wordcount",
    "trigger_microbatch_2s",
    "ckpt_state_dir",
    "sink_parquet_roundtrip",
    "src_file_formats",
    "src_partition_prune",
    "sim_kmeans_cells",  # per-round model collects inside the builder
}

#: Queries allowed to contain Arrow-batched Python operators.
ARROW_PYTHON_OK = {
    "mm_frame_sample",
    "mm_resize",
    "mm_feature_extract",
    "mm_audio_chunk",
    "mm_phash_dedup",
    "mm_byte_histogram",  # map-only Arrow np.bincount pass
    "udf_surface",
    "udtf_chunk_docs",  # Arrow Python UDTF is the point of the query
}


@pytest.fixture(scope="module")
def plans(spark, sf_dir) -> dict[str, str]:
    """Executed-plan text of every non-eager query, built once and
    shared by both checks (building all of them is most of the cost)."""
    return {
        name: fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for name, fn in registry.QUERIES.items()
        if name not in EAGER
    }


def test_no_rowwise_python_anywhere(plans):
    for name, plan in plans.items():
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"
        if name not in ARROW_PYTHON_OK:
            for node in ("MapInPandas", "AggregateInPandas", "ArrowEvalPython"):
                assert node not in plan, f"{name}: unexpected Python op {node}"


def test_all_parquet_scans_prune_columns(plans):
    # every scan must read a proper subset of its table's columns when
    # the query touches a proper subset; spot the widest offenders by
    # asserting no scan reads more than 8 columns (widest fixture need:
    # q1's 7 lineitem columns + none read all 11)
    for name, plan in plans.items():
        for m in re.finditer(r"ReadSchema: struct<([^>\n]*)", plan):
            ncols = len([c for c in m.group(1).split(",") if c])
            assert ncols <= 8, f"{name}: scan reads {ncols} columns"
