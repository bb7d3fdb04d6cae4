"""The parquet source resolver (``sources/tables.py``): each source's
schema is inferred once and its scan's split count planned once, keyed
by the file's footprint (real path, size, ``mtime_ns``, footer hash)
and the session confs that change either answer.

A warm ``load_table`` launches no Spark job; a rewritten file, a file
that cannot be inferred, or a changed inference conf never gets a
stale answer; and ``load_table_cpu`` repartitions exactly when the
scan, planned again, has fewer splits than cores.
"""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from spark_streaming_stream_analyzer_spark.session import op_session
from spark_streaming_stream_analyzer_spark.sources.tables import load_table

REPO = pathlib.Path(__file__).resolve().parent.parent


def _jobs_of(spark, fn):
    """``fn()`` and the number of Spark jobs it launched, counted in a
    job group of its own. A sentinel job in a second group runs after
    it: the status tracker takes job events in order, so once it has
    seen the sentinel end, it has seen every job of ``fn``."""
    sc = spark.sparkContext
    group, sentinel = (f"resolver_{uuid.uuid4().hex}" for _ in range(2))
    try:
        sc.setJobGroup(group, "source resolver test")
        out = fn()
        sc.setJobGroup(sentinel, "source resolver test sentinel")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not [
        j for j in tracker.getJobIdsForGroup(sentinel)
        if getattr(tracker.getJobInfo(j), "status", None) == "SUCCEEDED"
    ]:
        assert time.monotonic() < deadline
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def test_warm_load_launches_no_job_and_keeps_the_schema(spark, tmp_path):
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int64()), "v": pa.array([0.5, 1.5, 2.5])}),
        str(tmp_path / "t.parquet"),
    )
    s = op_session(spark)
    cold, cold_jobs = _jobs_of(s, lambda: load_table(s, str(tmp_path), "t"))
    warm, warm_jobs = _jobs_of(s, lambda: load_table(s, str(tmp_path), "t"))
    assert cold_jobs == 1  # the schema inference
    assert warm_jobs == 0
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_rewritten_file_resolves_its_new_schema(spark, tmp_path):
    """Rewritten in place with the same size and the same mtime_ns:
    only the footer hash tells the two files apart."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), path)
    before = os.stat(path)
    s = op_session(spark)
    assert load_table(s, str(tmp_path), "t").columns == ["a"]

    pq.write_table(pa.table({"b": pa.array([4, 5, 6], pa.int64())}), path)
    assert os.stat(path).st_size == before.st_size
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    df = load_table(s, str(tmp_path), "t")
    assert df.columns == ["b"]
    assert sorted(r["b"] for r in df.collect()) == [4, 5, 6]


def test_nanosecond_file_fails_on_every_load(spark, tmp_path):
    pq.write_table(
        pa.table({"ts": pa.array([1_704_067_200 * 10**9], pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    s = op_session(spark)
    for _ in range(3):
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            load_table(s, str(tmp_path), "events").count()


def test_binary_as_string_session_gets_its_own_schema(spark, tmp_path):
    pq.write_table(pa.table({"k": pa.array([b"x", b"y"], pa.binary())}), str(tmp_path / "t.parquet"))
    plain = op_session(spark)
    as_string = op_session(spark)
    as_string.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert load_table(plain, str(tmp_path), "t").schema["k"].dataType == T.BinaryType()
    assert load_table(as_string, str(tmp_path), "t").schema["k"].dataType == T.StringType()
    assert load_table(plain, str(tmp_path), "t").schema["k"].dataType == T.BinaryType()


#: Run in a fresh interpreter: one SparkContext per core count. For
#: every table at three scales, ``load_table_cpu``'s repartition (on a
#: cold and then a warm call) must equal the decision taken from the
#: scan planned directly.
_SPLIT_PROBE = r"""
import os, sys
sys.path.insert(0, os.getcwd())
from spark_streaming_stream_analyzer_spark.session import get_spark
from spark_streaming_stream_analyzer_spark.sources.tables import TABLE_NAMES, load_table_cpu

def repartitioned(df):
    return "Repartition" in df._jdf.queryExecution().logical().toString()

bad, seen = [], 0
for cores in sys.argv[2:]:
    os.environ["SPARK_GRAFT_CPUS"] = cores
    spark = get_spark(f"split_probe_{cores}")
    target = spark.sparkContext.defaultParallelism
    assert target == int(cores), (target, cores)
    for sf_dir in sys.argv[1].split(","):
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            want = spark.read.parquet(path).rdd.getNumPartitions() < target
            for call in ("cold", "warm"):
                got = repartitioned(load_table_cpu(spark, sf_dir, name))
                seen += 1
                if got != want:
                    bad.append((cores, sf_dir, name, call, got, want))
    spark.stop()
print("SEEN", seen)
print("BAD", bad)
"""


def test_cpu_load_repartitions_as_the_planned_scan_says(sf_dir):
    scales = ",".join(
        os.path.join(os.path.dirname(sf_dir), d) for d in ("sf0.001", "sf0.01", "sf0.1")
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _SPLIT_PROBE, scales, "1", "4"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    out = proc.stdout.splitlines()
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "SEEN 120" in out, proc.stdout[-2000:]
    assert "BAD []" in out, proc.stdout[-2000:]


def test_resolver_cache_under_thread_contention(monkeypatch, tmp_path):
    """Spark-free: 16 threads share the cache, which holds 8 entries,
    over 32 keys of one file. Every lookup returns its own key's value,
    and the cache never grows past its bound."""
    import random
    import threading

    from spark_streaming_stream_analyzer_spark.sources import tables

    monkeypatch.setattr(tables, "_RESOLVED_MAX", 8)
    monkeypatch.setattr(tables, "_resolved", tables.OrderedDict())
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), path)
    wrong, sizes = [], []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def work(seed):
            rng = random.Random(seed)
            for _ in range(2000):
                k = rng.randrange(32)
                if tables._resolve(path, ("t", k), lambda k=k: k * k) != k * k:
                    wrong.append(k)
                with tables._resolved_lock:
                    sizes.append(len(tables._resolved))

        threads = [threading.Thread(target=work, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert wrong == []
    assert max(sizes) <= 8
