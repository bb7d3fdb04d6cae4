from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_streaming_stream_analyzer_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # Bounded driver heap. Under get_spark's 16g default the JVM held
    # 9.5-10 GB RSS by test_empty_corpus, and the DuckDB oracle of
    # ts_resample_interp beside it exhausted a 15 GB host (the JVM was
    # OOM-killed); every op passes with the 1-2 GB heaps that the
    # vanilla selfcheck and test_foreign_cwd use.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
