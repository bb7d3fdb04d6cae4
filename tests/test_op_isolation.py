"""Registry ops leave the caller's session alone.

Every registered op runs on its own ``session.op_session`` child, so a
caller whose conf differs from the op settings (3 shuffle partitions, a
non-UTC zone, nanosAsLong off) keeps exactly that conf, and no temp
view or function an op registers shows up on it; the op still gets the
oracle answer and leaves no stream running on its session. Two ops run
at once on one caller (two threads) must not clobber each other's
settings or views either.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from spark_streaming_stream_analyzer_spark import registry
from test_empty_corpus import _norm, _oracle

OPS = [
    "stream_running_stats",
    "ckpt_state_dir",
    "stream_static_join",
    "stream_batch_wordcount",
    "stream_python_datasource",
    "stream_progress_metrics",
    "stream_pareto_front",
    "stream_stats_rocksdb",
    "sql_surface",
    "sql_exists_subquery",
    "sql_lateral",
    "sql_recursive",
    "agg_grouping_sets",
    "udtf_chunk_docs",
    "src_python_datasource",
    "sink_python_datasource",
    "ts_rolling_window_1h",
]

CONF_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.streaming.stateStore.providerClass",
)


@pytest.fixture()
def caller(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "3")
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    return s


def _state(s) -> dict:
    return {
        **{k: s.conf.get(k, None) for k in CONF_KEYS},
        "views": sorted(t.name for t in s.catalog.listTables()),
        "chunk_doc": s.catalog.functionExists("chunk_doc"),
    }


def _check(caller, sf_dir: str, name: str) -> None:
    result = registry.QUERIES[name](caller, sf_dir)
    # every stream the op started has been stopped, on every path
    assert result.sparkSession.streams.active == []
    sdf = result.toPandas()
    odf = _oracle(sf_dir, registry.ORACLES[name])
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf), f"{name}: spark {len(sdf)} vs oracle {len(odf)}"
    assert _norm(sdf) == _norm(odf), f"{name}: value divergence"


@pytest.mark.parametrize("name", OPS)
def test_op_keeps_caller_conf_and_matches_oracle(caller, sf_dir, name):
    before = _state(caller)
    _check(caller, sf_dir, name)
    assert _state(caller) == before


@pytest.mark.parametrize(
    "pair",
    [
        ("stream_stats_rocksdb", "stream_progress_metrics"),
        # both register a temp view named ``orders``
        ("sql_surface", "sql_exists_subquery"),
    ],
    ids="-".join,
)
def test_concurrent_ops_on_one_caller(caller, sf_dir, pair):
    before = _state(caller)
    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(_check, caller, sf_dir, n) for n in pair]:
            f.result(timeout=300)
    assert _state(caller) == before
