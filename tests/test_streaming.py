"""Streaming semantics tests (SURVEY.md §5.2.2): multi-micro-batch
update-mode accumulation, foreachBatch per-batch scoping (Q2/B3
processing-time parity), watermark late-row dropping, and the
exact-parity positional-state operator (M3)."""

from __future__ import annotations

import math
import os
import uuid

import pandas as pd
import pytest

from pyspark.sql import functions as F

from spark_streaming_stream_analyzer_spark.operators.stats import stat_aggs
from spark_streaming_stream_analyzer_spark.sources.tables import load_table
from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
    _run_to_memory,
    events_file_stream,
    kafka_record,
)
from spark_streaming_stream_analyzer_spark.streaming.state import exact_state_stats


NS = 1_000_000_000

#: Crafted clocks are written relative to a valid 2024 base: the
#: ingest clock-validity contract (round-8 TIME sweep,
#: ``sources/tables.py clean_measurements``) drops epoch-near-zero
#: rows at load, so the epoch-relative offsets these tests reason in
#: are shifted wholesale. 2024-01-01T00:00:00Z is midnight-aligned
#: (day boundaries and gaps are offset-invariant).
BASE_NS = 1_704_067_200 * NS
BASE_US = BASE_NS // 1000


def _ts_us(ns) -> pd.Series:
    """Epoch-nanos as the fixtures' parquet ``timestamp[us]`` column."""
    return pd.to_datetime(ns, unit="ns").astype("datetime64[us]")


def _write_event_files(spark, tmpdir: str, batches: list[list[tuple]]) -> str:
    """Write each batch as one parquet file (one micro-batch each).
    ``ts`` values are offsets in nanos; the valid-clock base is added
    here so every crafted row survives the ingest contract, and the
    column is written as ``timestamp[us]``."""
    src = os.path.join(tmpdir, f"src_{uuid.uuid4().hex[:8]}")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = _ts_us(pdf["ts"] + BASE_NS)
        pdf.to_parquet(os.path.join(src, f"{i:04d}.parquet"), index=False)
    return src


def test_multibatch_stream_equals_batch(spark, tmp_path):
    rows1 = [(1, 1 * NS, 1, "a", 10.0, "{}"), (2, 2 * NS, 1, "b", 20.0, "{}")]
    rows2 = [(3, 3 * NS, 1, "a", 30.0, "{}"), (4, 4 * NS, 1, "a", 40.0, "{}")]
    src = _write_event_files(spark, str(tmp_path), [rows1, rows2])
    stream = events_file_stream(spark, src)
    stats = stream.groupBy(F.col("event_type").alias("readTag_id")).agg(
        *stat_aggs("value")
    )
    out = {r["readTag_id"]: r for r in _run_to_memory(stats, output_mode="complete").collect()}
    assert out["a"]["counter"] == 3.0 and out["a"]["summer"] == 80.0
    assert out["b"]["counter"] == 1.0 and out["b"]["var"] == 0.0


def test_poll_drained_stream_raises_its_own_error(spark, monkeypatch):
    """A processing-time stream whose batch raises, drained by a stop
    condition that never holds, must surface the query's own error
    well before the 120 s poll deadline, stopped and with its
    auto-checkpoint removed."""
    import time

    from pyspark.errors import StreamingQueryException

    import spark_streaming_stream_analyzer_spark.streaming.pipelines as sp
    from spark_streaming_stream_analyzer_spark.session import op_session

    made = []
    real = sp._tracked_tmp_dir

    def tracked(prefix):
        made.append(real(prefix))
        return made[-1]

    monkeypatch.setattr(sp, "_tracked_tmp_dir", tracked)
    child = op_session(spark)
    boom = (
        child.readStream.format("rate").option("rowsPerSecond", 10).load()
        .select(
            F.when(F.col("value") >= 0, F.raise_error(F.lit("planted")))
            .alias("x")
        )
    )
    t0 = time.monotonic()
    with pytest.raises(StreamingQueryException, match="planted"):
        _run_to_memory(
            boom,
            output_mode="append",
            trigger={"processingTime": "1 second"},
            until=lambda sink: False,
        )
    assert time.monotonic() - t0 < 30
    assert child.streams.active == []
    assert made and not any(os.path.exists(d) for d in made)


def test_stopped_heartbeat_streams_leave_no_tmp_dir(spark, sf_dir, monkeypatch):
    """``stream_stats_heartbeat`` is stopped mid-run by its poll (a
    processing-time stateful query): a state-store task of the batch
    that ``stop()`` interrupted must end before ``_drain`` removes the
    checkpoint, or its late ``.delta`` write recreates the dir. Five
    runs: when ``_drain`` returns, no stage of the query's unfinished
    jobs may be active or running a task; and once the staged sources
    are removed too (as at process exit), none of the dirs the runs
    made may be left."""
    import time

    import spark_streaming_stream_analyzer_spark.streaming.pipelines as sp
    from spark_streaming_stream_analyzer_spark import registry

    made, busy = [], []
    real_dir, real_drain = sp._tracked_tmp_dir, sp._drain
    tracker = spark.sparkContext.statusTracker()

    def tracked(prefix):
        made.append(real_dir(prefix))
        return made[-1]

    def drain(*args, **kwargs):
        q = real_drain(*args, **kwargs)
        active = set(tracker.getActiveStageIds())
        for j in tracker.getJobIdsForGroup(q.runId):
            job = tracker.getJobInfo(j)
            if job is not None and job.status != "SUCCEEDED":
                busy.extend(
                    (j, s) for s in job.stageIds
                    if s in active or getattr(tracker.getStageInfo(s), "numActiveTasks", 0)
                )
        return q

    monkeypatch.setattr(sp, "_tracked_tmp_dir", tracked)
    monkeypatch.setattr(sp, "_drain", drain)
    for _ in range(5):
        assert registry.QUERIES["stream_stats_heartbeat"](spark, sf_dir).count() > 0
    assert busy == []
    assert sum("sgs_ckpt_" in d for d in made) == 5
    # the staged sources: still tracked, unlike the removed checkpoints
    sp._cleanup_tmp_dirs([d for d in made if d in sp._TMP_DIRS])
    time.sleep(1)
    assert [d for d in made if os.path.exists(d)] == []


def test_foreachbatch_per_batch_wordcount(spark, tmp_path):
    """Q2: the reference's word count resets every micro-batch — that
    scoping is only expressible via foreachBatch; totals across batches
    must still equal the batch answer (B3-adjacent check)."""
    rows1 = [(1, 1 * NS, 1, "x y x", 0.0, "{}")]
    rows2 = [(2, 2 * NS, 1, "y x", 0.0, "{}")]
    src = _write_event_files(spark, str(tmp_path), [rows1, rows2])
    stream = events_file_stream(spark, src)
    per_batch: list[dict[str, int]] = []

    def handle(df, batch_id):
        words = df.select(F.explode(F.split("event_type", " ")).alias("w"))
        per_batch.append(
            {r["w"]: r["c"] for r in words.groupBy("w").agg(F.count("*").alias("c")).collect()}
        )

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt_fb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    nonempty = [b for b in per_batch if b]
    assert len(nonempty) == 2  # per-micro-batch scoping observed
    totals: dict[str, int] = {}
    for b in nonempty:
        for w, c in b.items():
            totals[w] = totals.get(w, 0) + c
    assert totals == {"x": 3, "y": 2}


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving a batch later, with event time older than
    watermark (1 h) behind the max seen, must not resurrect its
    window in append mode."""
    day = 86_400 * NS
    rows1 = [(1, 3 * day + 3600 * NS * 2, 1, "a", 1.0, "{}")]  # day 3
    rows2 = [(2, 0 * day + 1, 1, "a", 1.0, "{}")]  # day 0: very late
    src = _write_event_files(spark, str(tmp_path), [rows1, rows2])
    stream = events_file_stream(spark, src)
    from spark_streaming_stream_analyzer_spark.sources.tables import ts_timestamp

    with_ts = stream.withColumn("ev_ts", ts_timestamp())
    counts = (
        with_ts.withWatermark("ev_ts", "1 hour")
        .groupBy(F.window("ev_ts", "1 day"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").cast("string").alias("w"), "cnt")
    )
    got = _run_to_memory(counts, output_mode="append").collect()
    # day-0 window may appear only if the late row was accepted before
    # the watermark advanced past it; with batch order 1→2 the row is
    # 3 days late and must be dropped, and day-3's window (not yet
    # closed by watermark) is withheld → late row contributed nothing.
    assert all(r["cnt"] == 1 and r["w"].startswith("2024-01-01") for r in got) or got == []


def test_exact_state_matches_manual_welford(spark, tmp_path):
    rows1 = [(1, 1 * NS, 1, "k", 2.0, "{}"), (2, 2 * NS, 1, "k", 4.0, "{}")]
    rows2 = [(3, 3 * NS, 1, "k", 9.0, "{}")]
    src = _write_event_files(spark, str(tmp_path), [rows1, rows2])
    stream = events_file_stream(spark, src)
    out = _run_to_memory(exact_state_stats(stream, "event_type"), output_mode="update")
    rows = sorted(out.collect(), key=lambda r: r["counter"])
    final = rows[-1]
    vals = [2.0, 4.0, 9.0]
    n = len(vals)
    mean = sum(vals) / n
    m2 = sum((v - mean) ** 2 for v in vals)
    assert final["counter"] == 3.0
    assert math.isclose(final["mean"], mean, rel_tol=1e-12)
    assert math.isclose(final["m2"], m2, rel_tol=1e-9)
    assert math.isclose(final["var"], m2 / (n - 1), rel_tol=1e-9)
    assert final["bestmin"] == 2.0 and final["bestmax"] == 9.0
    # update-mode: one emission per micro-batch the key appeared in (B3
    # divergence: no emissions for absent keys)
    assert len(rows) == 2


def test_kafka_record_shape(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    from spark_streaming_stream_analyzer_spark.operators.stats import running_stats

    rec = kafka_record(running_stats(ev, "event_type", "value"))
    assert rec.columns == ["key", "value"]
    row = rec.limit(1).collect()[0]
    import json

    parsed = json.loads(row["value"])
    assert parsed["readTag_id"] == row["key"]
    assert {"summer", "counter", "sumsqr", "bestmin", "bestmax", "mean", "var"} <= set(
        parsed
    )


def test_rocksdb_state_store_matches_batch(spark, sf_dir):
    """The 100 TB state path: the same streaming aggregate under the
    RocksDB state store provider (large-key-cardinality state off the
    JVM heap) must equal the batch answer. The provider is set on the
    stream's own session, so it doesn't leak into other tests."""
    from pyspark.sql import functions as F

    from spark_streaming_stream_analyzer_spark.operators.stats import stat_aggs
    from spark_streaming_stream_analyzer_spark.session import op_session
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table
    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        _run_to_memory,
        events_file_stream,
    )

    child = op_session(spark)
    child.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    ev = events_file_stream(child, f"{sf_dir}/events.parquet")
    streamed = _run_to_memory(
        ev.groupBy(F.col("event_type").alias("readTag_id")).agg(
            *stat_aggs("value")
        ),
        output_mode="complete",
    ).collect()
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("readTag_id"))
        .agg(*stat_aggs("value"))
        .collect()
    )
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_heartbeat_reemits_idle_keys(spark, tmp_path):
    """B3 heartbeat via state timers: a key seen only in batch 1 must
    re-emit (unchanged stats) in a later processing-time batch, which
    the plain update-mode op never does."""
    import time

    from pyspark.sql import types as T

    from spark_streaming_stream_analyzer_spark.session import op_session
    from spark_streaming_stream_analyzer_spark.streaming.state import (
        exact_state_stats_heartbeat,
    )

    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([("a", 1.0), ("b", 2.0)], schema).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    # flatten part files for the stream source
    import os

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    n = 0
    for part in (src / "b0.parquet").iterdir():
        if part.name.endswith(".parquet"):
            os.link(part, stream_dir / f"f{n}.parquet")
            n += 1
    child = op_session(spark)
    stream = (
        child.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    out = exact_state_stats_heartbeat(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("hb")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # batch 1 ingests a+b; later idle batches fire the timers
        deadline = time.time() + 45
        while time.time() < deadline:
            rows = child.table("hb").groupBy("readTag_id").count().collect()
            if rows and all(r["count"] >= 2 for r in rows) and len(rows) == 2:
                break
            time.sleep(1)
        counts = {
            r["readTag_id"]: r["count"]
            for r in child.table("hb").groupBy("readTag_id").count().collect()
        }
        assert set(counts) == {"a", "b"}
        assert all(c >= 2 for c in counts.values()), counts  # >=1 heartbeat
        # heartbeat rows carry the same (unchanged) statistics
        vals = child.table("hb").select("readTag_id", "summer", "counter").distinct().collect()
        assert len(vals) == 2
    finally:
        q.stop()


def test_stream_stats_tws_always_registered_and_matches_exact(spark, sf_dir):
    """stream_stats_tws must be present in queries() regardless of the
    host's python-protobuf availability, and its result (true TWS path
    on protobuf hosts, applyInPandasWithState fallback elsewhere) must
    be row-identical to stream_stats_exact_state on the deterministic
    oracle columns."""
    from spark_streaming_stream_analyzer_spark import registry
    from spark_streaming_stream_analyzer_spark.streaming.state import (
        stream_stats_exact_state,
        stream_stats_tws,
    )

    assert "stream_stats_tws" in registry.QUERIES
    tws = {r["readTag_id"]: r for r in stream_stats_tws(spark, sf_dir).collect()}
    exact = {
        r["readTag_id"]: r for r in stream_stats_exact_state(spark, sf_dir).collect()
    }
    assert set(tws) == set(exact) and tws
    for k, row in exact.items():
        for col in ("summer", "counter", "sumsqr", "bestmin", "bestmax",
                    "mean", "m2", "var"):
            assert tws[k][col] == row[col], (k, col)


def test_tws_true_path_runs_where_protobuf_present(spark, tmp_path):
    """Exercises the real transformWithStateInPandas worker; skipped on
    protobuf-less containers (this sandbox), runs on codec-complete
    clusters so the TWS path is not permanently dead code."""
    from spark_streaming_stream_analyzer_spark.streaming.state import (
        ExactStatsProcessor,
        TWS_OUTPUT_SCHEMA,
        _has_protobuf,
    )
    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        _run_to_memory,
        events_file_stream,
    )

    if not _has_protobuf():
        pytest.skip("python-protobuf absent: TWS worker channel unavailable")
    rows = [(1, 1 * NS, 1, "a", 10.0, "{}"), (2, 2 * NS, 1, "a", 30.0, "{}")]
    src = _write_event_files(spark, str(tmp_path), [rows])
    stream = events_file_stream(spark, src)
    out = (
        stream.select(F.col("event_type").cast("string").alias("readTag_id"), "value")
        .groupBy("readTag_id")
        .transformWithStateInPandas(
            ExactStatsProcessor(),
            outputStructType=TWS_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
    res = {r["readTag_id"]: r for r in _run_to_memory(out, output_mode="update").collect()}
    assert res["a"]["summer"] == 40.0 and res["a"]["counter"] == 2.0


def test_custom_sessionizer_multibatch_carry(spark, tmp_path):
    """Sessions spanning micro-batch boundaries must merge, and a
    'purchase' carried in state must split the NEXT batch's first row
    — the two behaviors that distinguish real cross-batch state from
    per-batch sessionization."""
    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        _run_to_memory,
        events_file_stream,
    )
    from spark_streaming_stream_analyzer_spark.streaming.state import (
        SESS_GAP_US,
        sessionize_custom,
    )

    US = 1_000_000
    MIN = 60 * US
    # user 1: session continues across the batch boundary (gap 5 min);
    # user 2: batch-1 ends with a purchase → batch-2 row starts a NEW
    #         session even though the gap is tiny;
    # user 3: gap break across the boundary (40 min > 30).
    b1 = [
        (1, 0, 1, "view", 1.0, "{}"),
        (2, 2 * MIN * 1000, 1, "click", 2.0, "{}"),
        (3, 1 * MIN * 1000, 2, "view", 3.0, "{}"),
        (4, 3 * MIN * 1000, 2, "purchase", 4.0, "{}"),
        (5, 1 * MIN * 1000, 3, "view", 5.0, "{}"),
    ]
    b2 = [
        (6, 7 * MIN * 1000, 1, "view", 6.0, "{}"),
        (7, 4 * MIN * 1000, 2, "view", 7.0, "{}"),
        (8, 45 * MIN * 1000, 3, "click", 8.0, "{}"),
    ]
    src = _write_event_files(spark, str(tmp_path), [b1, b2])
    ev = events_file_stream(spark, src)
    # mirror stream_sessionize_custom's projection: ts as epoch-micros
    from spark_streaming_stream_analyzer_spark.sources.tables import ts_micros

    proj = ev.select(
        "user_id",
        ts_micros().alias("us"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    mem = _run_to_memory(sessionize_custom(proj), output_mode="update")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id", "session_seq").orderBy(
        F.col("n_events").desc()
    )
    rows = (
        mem.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .collect()
    )
    sess = {
        (r["user_id"], r["session_start_us"] - BASE_US): r for r in rows
    }
    # user 1: ONE session over both batches (0,2,7 min), n=3; the
    # carried open session keeps seq 0 across the boundary
    assert sess[(1, 0)]["n_events"] == 3
    assert sess[(1, 0)]["session_end_us"] == BASE_US + 7 * MIN
    assert sess[(1, 0)]["sum_cents"] == 100 + 200 + 600
    assert sess[(1, 0)]["session_seq"] == 0
    # user 2: purchase closed session 1 (n=2); batch-2 row is a NEW
    # session despite the 1-minute gap — seq increments ACROSS the
    # batch boundary (the state-carried break count)
    assert sess[(2, 1 * MIN)]["n_events"] == 2
    assert sess[(2, 1 * MIN)]["session_seq"] == 0
    assert sess[(2, 4 * MIN)]["n_events"] == 1
    assert sess[(2, 4 * MIN)]["session_seq"] == 1
    # user 3: 44-minute gap across the boundary → two sessions
    assert sess[(3, 1 * MIN)]["n_events"] == 1
    assert sess[(3, 45 * MIN)]["n_events"] == 1
    assert sess[(3, 45 * MIN)]["session_seq"] == 1
    assert len(sess) == 5


def test_stream_attribution_carries_click_across_batches(spark, tmp_path):
    """A click in batch 1 must attribute a purchase arriving in batch
    2 (state carry), and a purchase preceding any click stays
    unattributed."""
    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        _run_to_memory,
        events_file_stream,
    )
    from spark_streaming_stream_analyzer_spark.streaming.state import (
        ATTR_OUTPUT_SCHEMA,
        ATTR_STATE_SCHEMA,
        _attr_update,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout
    from spark_streaming_stream_analyzer_spark.sources.tables import ts_micros

    MIN = 60 * 1_000_000
    b1 = [
        (1, 0, 1, "purchase", 1.0, "{}"),          # before any click → null
        (2, 1 * MIN * 1000, 1, "click", 2.0, "{}"),
    ]
    b2 = [
        (3, 5 * MIN * 1000, 1, "purchase", 3.0, "{}"),  # attributed to 2
    ]
    src = _write_event_files(spark, str(tmp_path), [b1, b2])
    ev = events_file_stream(spark, src)
    proj = ev.select(
        "user_id",
        ts_micros().alias("us"),
        "event_id",
        "event_type",
    ).filter(F.col("event_type").isin("click", "purchase"))
    out = proj.groupBy("user_id").applyInPandasWithState(
        _attr_update,
        outputStructType=ATTR_OUTPUT_SCHEMA,
        stateStructType=ATTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    rows = {r["purchase_id"]: r for r in _run_to_memory(out, output_mode="append").collect()}
    assert rows[1]["touch_id"] is None and rows[1]["gap_us"] is None
    assert rows[3]["touch_id"] == 2
    assert rows[3]["gap_us"] == 4 * MIN


def test_cdc_apply_tombstone_semantics(spark, tmp_path):
    """Delete-wins-by-event-time: a tombstone must remove the key even
    when an OLDER upsert arrives in a later replay batch, and an
    upsert newer than a tombstone must resurrect the key."""
    import pandas as pd

    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        stream_cdc_apply,
    )

    US = 1_000_000
    rows = [
        # user 10: upsert t=1, delete t=5  -> absent
        (1, BASE_NS + 1 * US * 1000, 10, "view", 1.0, "{}"),
        (2, BASE_NS + 5 * US * 1000, 10, "error", 2.0, "{}"),
        # user 20: delete t=1, upsert t=5  -> present (resurrected)
        (3, BASE_NS + 1 * US * 1000, 20, "error", 3.0, "{}"),
        (4, BASE_NS + 5 * US * 1000, 20, "click", 4.0, "{}"),
        # user 30: upserts only -> present with the latest value
        (5, BASE_NS + 1 * US * 1000, 30, "view", 5.0, "{}"),
        (6, BASE_NS + 9 * US * 1000, 30, "purchase", 6.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = _ts_us(pdf["ts"])
    pdf.to_parquet(str(tmp_path / "events.parquet"), index=False)
    got = {
        r["user_id"]: (r["last_us"], r["last_event_id"], r["last_value"])
        for r in stream_cdc_apply(spark, str(tmp_path)).collect()
    }
    assert got == {
        20: (BASE_US + 5 * US, 4, 4.0),
        30: (BASE_US + 9 * US, 6, 6.0),
    }


def test_stream_freshness_matches_batch(spark, sf_dir):
    """The incrementally-folded freshness report must equal the batch
    operator row for row (max is replay-idempotent, counts normalize
    by the replay factor)."""
    from spark_streaming_stream_analyzer_spark.operators.featurize import (
        dq_freshness_sla,
    )
    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        stream_freshness_watermark,
    )

    batch = {
        r["event_type"]: (
            r["n_events"], r["latest_us"], r["lag_us"], r["within_sla"]
        )
        for r in dq_freshness_sla(spark, sf_dir).collect()
    }
    stream = {
        r["event_type"]: (
            r["n_events"], r["latest_us"], r["lag_us"], r["within_sla"]
        )
        for r in stream_freshness_watermark(spark, sf_dir).collect()
    }
    assert stream == batch


def test_stream_seq_pattern_cross_batch_carry(spark, tmp_path):
    """A view+click ending batch 1 must complete with batch 2's
    purchase (state carry), and a triple wholly inside batch 1 must
    count exactly once (no recount from carried rows)."""
    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        _run_to_memory,
        events_file_stream,
    )
    from spark_streaming_stream_analyzer_spark.streaming.state import (
        SEQP_OUTPUT_SCHEMA,
        SEQP_STATE_SCHEMA,
        _seqp_update,
    )
    from spark_streaming_stream_analyzer_spark.sources.tables import ts_micros
    from pyspark.sql.streaming.state import GroupStateTimeout

    US = 1_000_000
    MIN = 60 * US
    # user 1: full triple in batch 1 (counted once), then view+click at
    #         the batch-1 tail completing with batch-2 purchase
    b1 = [
        (1, 0 * MIN * 1000, 1, "view", 1.0, "{}"),
        (2, 1 * MIN * 1000, 1, "click", 1.0, "{}"),
        (3, 2 * MIN * 1000, 1, "purchase", 1.0, "{}"),
        (4, 3 * MIN * 1000, 1, "view", 1.0, "{}"),
        (5, 4 * MIN * 1000, 1, "click", 1.0, "{}"),
        # user 2: view then click split across the boundary
        (6, 0 * MIN * 1000, 2, "view", 1.0, "{}"),
    ]
    b2 = [
        (7, 5 * MIN * 1000, 1, "purchase", 1.0, "{}"),
        (8, 1 * MIN * 1000, 2, "click", 1.0, "{}"),
        (9, 2 * MIN * 1000, 2, "purchase", 1.0, "{}"),
    ]
    src = _write_event_files(spark, str(tmp_path), [b1, b2])
    ev = events_file_stream(spark, src)
    proj = ev.select(
        "user_id", ts_micros().alias("us"), "event_id", "event_type"
    )
    out = proj.groupBy("user_id").applyInPandasWithState(
        _seqp_update,
        outputStructType=SEQP_OUTPUT_SCHEMA,
        stateStructType=SEQP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = _run_to_memory(out, output_mode="append")
    tot = {
        r["user_id"]: (r["n"], r["ms"])
        for r in mem.groupBy("user_id")
        .agg(
            F.sum("n_matches").alias("n"), F.min("min_span_us").alias("ms")
        )
        .collect()
    }
    # user 1: triple in batch 1 (span 2 min) + boundary triple (span 2
    # min) -> 2 matches; user 2: one boundary-spanning triple
    assert tot[1] == (2, 2 * MIN)
    assert tot[2] == (1, 2 * MIN)


def test_stream_hll_bit_identical_to_batch(spark, sf_dir):
    """HLL register maxima are associative AND idempotent, so the
    stream-merged sketch must be bit-identical to the batch sketch —
    despite the 2x replay and arbitrary batch splits."""
    from spark_streaming_stream_analyzer_spark.functions.hashing import (
        hll_estimate,
    )
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table
    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        stream_hll_distinct,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("u")
    )
    batch = {
        r["event_type"]: (r["approx_distinct"], r["n_buckets"])
        for r in hll_estimate(ev, ["event_type"], "u").collect()
    }
    stream = {
        r["event_type"]: (r["approx_distinct"], r["n_buckets"])
        for r in stream_hll_distinct(spark, sf_dir).collect()
    }
    assert stream == batch  # float-equal because the integers are equal


def test_stream_cusum_cross_batch_carry(spark, tmp_path):
    """An excursion climbing across the batch boundary must alarm in
    batch 2 using batch 1's carried (cum, runmin) — and the whole
    path must equal the literal Page recursion."""
    from spark_streaming_stream_analyzer_spark.operators.analytics import (
        CUSUM_H_MICRO,
        CUSUM_K_MICRO,
    )
    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        _run_to_memory,
        events_file_stream,
    )
    from spark_streaming_stream_analyzer_spark.streaming.state import (
        CUSUM_OUTPUT_SCHEMA,
        CUSUM_STATE_SCHEMA,
        _cusum_update,
    )
    from spark_streaming_stream_analyzer_spark.sources.tables import ts_micros
    from pyspark.sql.streaming.state import GroupStateTimeout

    k = CUSUM_K_MICRO / 1e6
    h = CUSUM_H_MICRO / 1e6
    step = (h / 4) + k  # each event adds h/4 of excursion
    # 3 steps in batch 1 (no alarm yet), 2 more in batch 2 -> s crosses
    # h only with the carried state; a fresh batch-2 start would not.
    b1 = [(i, i * NS, 1, "t", step, "{}") for i in range(1, 4)]
    b2 = [(i, i * NS, 1, "t", step, "{}") for i in range(4, 6)]
    src = _write_event_files(spark, str(tmp_path), [b1, b2])
    ev = events_file_stream(spark, src)
    proj = ev.select(
        "event_type", ts_micros().alias("us"), "event_id", "value"
    )
    out = proj.groupBy("event_type").applyInPandasWithState(
        _cusum_update,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = _run_to_memory(out, output_mode="append")
    got = (
        mem.groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n"),
            F.sum("n_alarms").alias("a"),
            F.max("max_excursion").alias("mx"),
            F.min("first_alarm_us").alias("fa"),
        )
        .collect()[0]
    )
    # literal recursion over the concatenated stream
    s = 0
    alarms = 0
    mx = 0
    first = None
    for i in range(1, 6):
        d = round(step * 1e6) - CUSUM_K_MICRO
        s = max(0, s + d)
        mx = max(mx, s)
        if s > CUSUM_H_MICRO:
            alarms += 1
            if first is None:
                first = BASE_US + i * NS // 1000
    assert (got["n"], got["a"], got["mx"], got["fa"]) == (
        5, alarms, mx, first
    )
    assert alarms >= 1  # the boundary-crossing alarm actually fired


def test_stream_transitions_cross_batch_carry(spark, tmp_path):
    """The transition across the batch boundary must be counted via
    the carried last event — and exactly once."""
    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        _run_to_memory,
        events_file_stream,
    )
    from spark_streaming_stream_analyzer_spark.streaming.state import (
        TRANS_OUTPUT_SCHEMA,
        TRANS_STATE_SCHEMA,
        _trans_update,
    )
    from spark_streaming_stream_analyzer_spark.sources.tables import ts_micros
    from pyspark.sql.streaming.state import GroupStateTimeout

    b1 = [
        (1, 1 * NS, 1, "view", 0.0, "{}"),
        (2, 2 * NS, 1, "click", 0.0, "{}"),
    ]
    b2 = [
        (3, 3 * NS, 1, "purchase", 0.0, "{}"),
        (4, 4 * NS, 1, "view", 0.0, "{}"),
    ]
    src = _write_event_files(spark, str(tmp_path), [b1, b2])
    ev = events_file_stream(spark, src)
    proj = ev.select(
        "user_id", ts_micros().alias("us"), "event_id", "event_type"
    )
    out = proj.groupBy("user_id").applyInPandasWithState(
        _trans_update,
        outputStructType=TRANS_OUTPUT_SCHEMA,
        stateStructType=TRANS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = _run_to_memory(out, output_mode="append")
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in mem.groupBy("from_type", "to_type")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert got == {
        ("view", "click"): 1,
        ("click", "purchase"): 1,  # the boundary transition
        ("purchase", "view"): 1,
    }


def test_bootstrap_stats_deterministic_and_plausible(spark, sf_dir):
    """Replica draw totals hover around n (Poisson(1) mass ~ n); the
    op is deterministic across invocations; means are DIV-exact."""
    from spark_streaming_stream_analyzer_spark.operators import packing as pk
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    n = load_table(spark, sf_dir, "orders").count()
    rows1 = {r["rep"]: (r["n_draws"], r["sum_cents"], r["mean_cents"])
             for r in pk.sample_bootstrap_stats(spark, sf_dir).collect()}
    rows2 = {r["rep"]: (r["n_draws"], r["sum_cents"], r["mean_cents"])
             for r in pk.sample_bootstrap_stats(spark, sf_dir).collect()}
    assert rows1 == rows2 and len(rows1) == pk.BOOT_B
    for rep, (nd, sc, mc) in rows1.items():
        assert abs(nd - n) < 5 * (n ** 0.5) + 10  # ~5 sigma
        assert mc == sc // nd
    # replicas genuinely differ (resampling actually happened)
    assert len({v[0] for v in rows1.values()}) > 1


def test_stream_column_profile_multibatch_fold(spark, tmp_path):
    """Numeric min/max must fold NUMERICALLY across batches — the
    lexicographic trap ("100" < "99") is the planted case here."""
    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        _cleanup_tmp_dirs,
        _tracked_tmp_dir,
        events_file_stream,
    )
    from spark_streaming_stream_analyzer_spark.operators.auditing import (
        _PROFILE_COLS,
    )
    import spark_streaming_stream_analyzer_spark.streaming.pipelines as sp

    # batch 1 has event_id 99 (string-max trap); batch 2 has 100
    b1 = [(99, 1 * NS, 7, "a", 9.5, "{}")]
    b2 = [(100, 2 * NS, 3, "b", -1.25, "{}")]
    src = _write_event_files(spark, str(tmp_path), [b1, b2])

    import os as _os
    from unittest import mock

    real = sp.events_file_stream

    def fake_stream(s, path, copies=1):
        return real(s, src)

    with mock.patch.object(sp, "events_file_stream", fake_stream):
        got = {
            r["col_name"]: (r["n_rows"], r["n_null"], r["min_s"], r["max_s"])
            for r in sp.stream_column_profile(spark, str(tmp_path)).collect()
        }
    assert got["event_id"] == (2, 0, "99", "100")   # numeric, not lexicographic
    assert got["user_id"] == (2, 0, "3", "7")
    assert got["value"] == (2, 0, "-125", "950")    # exact integer cents
    assert got["event_type"] == (2, 0, "a", "b")


def test_stream_pareto_front_multibatch_dominance(spark, tmp_path):
    """A batch-1 local-frontier point must be evicted by a dominating
    batch-2 point at serve time (associativity of skyline folds)."""
    import pandas as pd
    from unittest import mock

    import spark_streaming_stream_analyzer_spark.streaming.pipelines as sp

    day = 86_400_000_000_000  # ns
    # batch 1: order 1 (day 5, $100) is its local frontier together
    # with order 2 (day 1, $50).
    b1 = pd.DataFrame(
        [(1, 10, "O", 100.0, 5 * day, "A"), (2, 11, "O", 50.0, 1 * day, "A")],
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    )
    # batch 2: order 3 (day 2, $200) dominates BOTH batch-1 points.
    b2 = pd.DataFrame(
        [(3, 12, "O", 200.0, 2 * day, "A")],
        columns=b1.columns,
    )
    for b in (b1, b2):
        b["o_orderdate"] = _ts_us(b["o_orderdate"])
    src = os.path.join(str(tmp_path), "orders_stream")
    os.makedirs(src)
    b1.to_parquet(os.path.join(src, "0000.parquet"), index=False)
    b2.to_parquet(os.path.join(src, "0001.parquet"), index=False)
    single = os.path.join(str(tmp_path), "orders.parquet")
    pd.concat([b1, b2]).to_parquet(single, index=False)

    real_stage = sp._stage_stream_dir

    def fake_stage(*paths, **_):
        return src

    with mock.patch.object(sp, "_stage_stream_dir", fake_stage):
        got = {
            (r["o_orderkey"], r["price_c"], r["day"])
            for r in sp.stream_pareto_front(spark, str(tmp_path)).collect()
        }
    assert got == {(3, 20000, 2), (2, 5000, 1)}


def test_stream_new_users_cross_batch(spark, tmp_path):
    """A user seen in batch 1 must NOT count as new again in batch 2;
    a user first seen in batch 2 must."""
    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        _run_to_memory,
        events_file_stream,
    )
    from spark_streaming_stream_analyzer_spark.streaming.state import (
        NEWU_OUTPUT_SCHEMA,
        NEWU_STATE_SCHEMA,
        _newu_update,
    )
    from spark_streaming_stream_analyzer_spark.sources.tables import ts_micros
    from pyspark.sql.streaming.state import GroupStateTimeout

    DAY = 86_400 * NS
    b1 = [(1, 0 * DAY, 1, "a", 0.0, "{}")]
    b2 = [
        (2, 1 * DAY, 1, "a", 0.0, "{}"),   # user 1 returning
        (3, 1 * DAY, 2, "a", 0.0, "{}"),   # user 2 new on day 1
    ]
    src = _write_event_files(spark, str(tmp_path), [b1, b2])
    ev = events_file_stream(spark, src)
    proj = ev.select("user_id", ts_micros().alias("us"))
    out = proj.groupBy("user_id").applyInPandasWithState(
        _newu_update,
        outputStructType=NEWU_OUTPUT_SCHEMA,
        stateStructType=NEWU_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = _run_to_memory(out, output_mode="append")
    got = {
        (r["user_id"], r["day"]): r["is_new"]
        for r in mem.groupBy("user_id", "day")
        .agg(F.max("is_new").alias("is_new"))
        .collect()
    }
    day0 = BASE_US // 86_400_000_000
    assert got == {(1, day0): 1, (1, day0 + 1): 0, (2, day0 + 1): 1}


def test_stream_cms_counters_bit_identical_to_batch(spark, tmp_path):
    """Counter linearity: the multi-batch folded sketch must equal
    the batch sketch on the concatenated text, cell for cell."""
    import pandas as pd
    from unittest import mock

    import spark_streaming_stream_analyzer_spark.streaming.pipelines as sp
    from spark_streaming_stream_analyzer_spark.operators.analytics import (
        CMS_D,
        CMS_W,
    )
    from spark_streaming_stream_analyzer_spark.functions.hashing import hash64
    from spark_streaming_stream_analyzer_spark.operators.wordcount import (
        tokenize,
    )

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    b1 = pd.DataFrame([(1, "a b a", "en", "s", 5)], columns=cols)
    b2 = pd.DataFrame([(2, "b c", "en", "s", 3)], columns=cols)
    src = os.path.join(str(tmp_path), "docs_stream")
    os.makedirs(src)
    b1.to_parquet(os.path.join(src, "0000.parquet"), index=False)
    b2.to_parquet(os.path.join(src, "0001.parquet"), index=False)
    single = os.path.join(str(tmp_path), "documents.parquet")
    pd.concat([b1, b2]).to_parquet(single, index=False)

    real = sp.events_file_stream

    def fake_stream(s, path, copies=1):
        return real(s, src)

    with mock.patch.object(sp, "events_file_stream", fake_stream):
        rows = sp.stream_cms_topk(spark, str(tmp_path)).collect()
    got = {r["word"]: (r["exact_n"], r["cms_est"]) for r in rows}
    assert got["a"][0] == 2 and got["b"][0] == 2 and got["c"][0] == 1
    for w, (n, est) in got.items():
        assert est >= n  # CMS one-sided error survives the fold


def test_stream_user360_boundary_carries(spark, tmp_path):
    """Session and day boundaries that straddle the batch split must
    use the carried last_us/last_day — a session continuing across
    batches must NOT count twice, a new day must."""
    from spark_streaming_stream_analyzer_spark.streaming.pipelines import (
        _run_to_memory,
        events_file_stream,
    )
    from spark_streaming_stream_analyzer_spark.streaming.state import (
        U360_OUTPUT_SCHEMA,
        U360_STATE_SCHEMA,
        _u360_update,
    )
    from spark_streaming_stream_analyzer_spark.sources.tables import ts_micros
    from pyspark.sql.streaming.state import GroupStateTimeout

    MIN = 60 * NS
    DAY = 86_400 * NS
    b1 = [
        (1, 0 * MIN, 1, "view", 1.0, "{}"),
        (2, 10 * MIN, 1, "purchase", 25.0, "{}"),
    ]
    b2 = [
        # 10 min after batch-1 tail: SAME session, SAME day
        (3, 20 * MIN, 1, "click", 1.0, "{}"),
        # next day, 40-min gap -> new session AND new day
        (4, 1 * DAY + 60 * MIN, 1, "purchase", 10.5, "{}"),
    ]
    src = _write_event_files(spark, str(tmp_path), [b1, b2])
    ev = events_file_stream(spark, src)
    proj = ev.select(
        "user_id", ts_micros().alias("us"), "event_id", "event_type",
        "value",
    )
    out = proj.groupBy("user_id").applyInPandasWithState(
        _u360_update,
        outputStructType=U360_OUTPUT_SCHEMA,
        stateStructType=U360_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = _run_to_memory(out, output_mode="update")
    final = (
        mem.orderBy(F.desc("n_events")).limit(1).collect()[0]
    )
    assert final["n_events"] == 4
    assert final["n_sessions"] == 2      # batch boundary did not split
    assert final["n_purchases"] == 2
    assert final["ltv_cents"] == 2500 + 1050
    assert final["n_active_days"] == 2   # day carry counted once each


def test_stream_kanon_fold_then_floor(spark, tmp_path):
    """A cell below k within each batch but above k cumulatively MUST
    be released (fold-then-floor), never suppressed per-batch."""
    import pandas as pd
    from unittest import mock

    import spark_streaming_stream_analyzer_spark.streaming.pipelines as sp
    from spark_streaming_stream_analyzer_spark.operators.auditing import (
        KANON_K,
    )

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # 3 rows per batch for user-bucket 0 on day 0: below k=5 per batch,
    # 6 total -> must be released
    b1 = pd.DataFrame(
        [(i, BASE_NS + i * NS, 1, "a", 1.0, "{}") for i in range(3)],
        columns=cols,
    )
    b2 = pd.DataFrame(
        [(i, BASE_NS + i * NS, 2, "a", 1.0, "{}") for i in range(3, 6)],
        columns=cols,
    )
    for b in (b1, b2):
        b["ts"] = _ts_us(b["ts"])
    src = os.path.join(str(tmp_path), "ev_stream")
    os.makedirs(src)
    b1.to_parquet(os.path.join(src, "0000.parquet"), index=False)
    b2.to_parquet(os.path.join(src, "0001.parquet"), index=False)

    real = sp.events_file_stream

    def fake_stream(s, path, copies=1):
        return real(s, src)

    with mock.patch.object(sp, "events_file_stream", fake_stream):
        rows = sp.stream_kanon_cells(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["event_type"], r["day"], r["user_bucket"]) == (
        "a", BASE_US // 86_400_000_000, 0,
    )
    assert r["n"] == 6 >= KANON_K
    assert r["n_suppressed_cells"] == 0
