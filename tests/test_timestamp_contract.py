"""The package's one timestamp type: parquet ``timestamp[us]``.

Every fixture timestamp column is ``timestamp[us]``, which Spark reads
as TIMESTAMP_NTZ and DuckDB as TIMESTAMP. The package reads no other
form: a nanosecond parquet timestamp fails loudly at read, and the
ts helpers and the events clock window neither probe a frame's types
nor branch on them.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from spark_streaming_stream_analyzer_spark.session import op_session
from spark_streaming_stream_analyzer_spark.sources.tables import (
    EVENT_TS_VALID_MAX_US,
    EVENT_TS_VALID_MIN_US,
    clean_measurements,
    load_table,
    ts_micros,
)

#: The time columns the operators and oracles key on.
TIME_COLUMNS = {
    "events": "ts",
    "lineitem": "l_shipdate",
    "orders": "o_orderdate",
}


def test_fixture_timestamps_are_microsecond(sf_dir):
    """Spark-free: every timestamp column of every table at every
    scale is ``timestamp[us]``, and the known time columns are
    timestamps (not integer epochs)."""
    scales = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    assert scales
    for d in scales:
        tables = sorted(glob.glob(os.path.join(d, "*.parquet")))
        assert tables, d
        for path in tables:
            schema = pq.read_schema(path)
            table = os.path.basename(path).removesuffix(".parquet")
            for field in schema:
                if pa.types.is_timestamp(field.type):
                    assert field.type == pa.timestamp("us"), (path, field)
            col = TIME_COLUMNS.get(table)
            if col is not None:
                assert schema.field(col).type == pa.timestamp("us"), (path, col)


def test_nanosecond_timestamps_fail_at_read(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file is refused at read, not
    reinterpreted as a bigint of epoch-nanos."""
    ns = [1_704_067_200 * 10**9, 1_704_067_201 * 10**9]
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
                "value": pa.array([1.0, 2.0]),
            }
        ),
        path,
    )
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        load_table(spark, str(tmp_path), "events").count()


_EDGES = (
    "1989-12-31 23:59:59.999999",
    "1990-01-01 00:00:00",
    "2099-12-31 23:59:59.999999",
    "2100-01-01 00:00:00",
)


@pytest.mark.parametrize("kind", ["TIMESTAMP_NTZ", "TIMESTAMP"])
def test_clock_window_is_exact_for_both_timestamp_types(spark, kind):
    """The one clock-window form keeps exactly the in-window edge rows
    for a TIMESTAMP_NTZ column and for an instant (LTZ) column on a
    UTC op session, and ``ts_micros`` maps both to the same epoch-µs."""
    s = op_session(spark)
    rows = ", ".join(f"({kind} '{t}')" for t in _EDGES)
    df = s.sql(f"SELECT * FROM VALUES {rows} AS t(ts)")
    assert dict(df.dtypes)["ts"] == kind.lower()

    def micros(frame):
        return sorted(r["us"] for r in frame.select(ts_micros().alias("us")).collect())

    assert micros(clean_measurements(df)) == [
        EVENT_TS_VALID_MIN_US,
        EVENT_TS_VALID_MAX_US - 1,
    ]
    assert micros(df) == [
        EVENT_TS_VALID_MIN_US - 1,
        EVENT_TS_VALID_MIN_US,
        EVENT_TS_VALID_MAX_US - 1,
        EVENT_TS_VALID_MAX_US,
    ]
