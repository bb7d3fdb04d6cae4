"""Structured Streaming pipelines (build plan M2).

The reference's jobs are DStream programs: 2-second micro-batches
(``KafkaStreamAverageCalculator.java:64-65``), ``updateStateByKey``
running stats, per-batch word counts, Kafka in/out. The rebuild uses
Structured Streaming's unified API: the *same* transformation bodies
as the batch operators (``operators/stats.py``, ``operators/
wordcount.py``), wired to streaming sources/sinks:

 - source: ``events_file_stream``, a file stream over any fixture
   table (tests / driver); ``kafka_source`` shows the production
   wiring (``spark.readStream.format("kafka")``) but is not exercised
   here — no broker in the container.
 - running stats: ``groupBy(key).agg(...)`` under ``complete`` /
   ``update`` output mode — Catalyst's StateStoreSave/Restore replaces
   ``updateStateByKey`` (state in RocksDB at scale).
 - word count: event-time tumbling window + watermark (the
   declaratively-expressible form, SURVEY.md Q2); exact
   per-processing-time-batch parity via ``foreachBatch``.
 - sink: ``to_json(struct(...))`` Kafka-record shape (op #8); memory
   sink for verification (``_run_to_memory``); per-batch parquet folds
   (``_fold_batches``).

Every package stream starts in one place, ``_drain``: it sets the
checkpoint (op #16; a tracked tmp dir unless the caller owns one) and
the trigger (``availableNow`` unless given), runs the query to
completion, and stops it on every path, failures included. Streaming
results are verified two ways: pytest semantics tests (multi-batch
update-mode emission), and driver oracle queries — the drained
query's final table must equal the batch/DuckDB answer (the prefix
guarantee of the unified model).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import uuid

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..operators.stats import STAT_COLS, running_stats, stats_oracle_sql
from ..sources.tables import (
    PARTITION_KEY_MAX_BYTES,
    clean_measurements,
    load_table,
    parquet_schema,
    partitionable_key,
    ts_micros,
    ts_timestamp,
)


# Every tmp dir this module creates (staged sources, auto-generated
# checkpoints) is tracked here and removed at process exit; dirs whose
# lifetime is clearly query-scoped are additionally removed as soon as
# the query drains. Without this, every streaming invocation leaked a
# sgs_* dir into tmp across driver/selfcheck runs.
_TMP_DIRS: list[str] = []


def _tracked_tmp_dir(prefix: str) -> str:
    d = os.path.join(tempfile.gettempdir(), f"{prefix}_{uuid.uuid4().hex[:12]}")
    _TMP_DIRS.append(d)
    return d


def _cleanup_tmp_dirs(dirs: list[str] | None = None) -> None:
    doomed = _TMP_DIRS if dirs is None else dirs
    for d in list(doomed):
        shutil.rmtree(d, ignore_errors=True)
        if d in _TMP_DIRS:
            _TMP_DIRS.remove(d)


atexit.register(_cleanup_tmp_dirs)


def _stage_stream_dir(*files: str, force_order: bool = False) -> str:
    """The file stream source wants a *directory*; the fixtures are
    single read-only files. Stage symlinks into a fresh tmp dir (one
    file per micro-batch with maxFilesPerTrigger=1). Removed at
    process exit (the source dir must outlive any query reading it,
    so it is not query-scoped).

    ``force_order=True`` stages COPIES with strictly-increasing forced
    mtimes (2 s apart) instead of symlinks. Spark's FileStreamSource
    orders new files by MODIFICATION TIME at millisecond granularity —
    not by name — so two parts written in the same ms tie and stream
    in arbitrary listing order (measured: a 4-part directory served
    part-00001 as batch 0). Symlinks can't fix that: Hadoop stats the
    TARGET, and a replayed file staged N times is one inode with one
    mtime. Replays of identical batches are order-insensitive, so the
    symlink path stays; anything staging DISTINCT parts whose order
    carries time semantics must force mtimes (round-10 MULTIFILE
    sweep — out-of-order batches silently corrupted every stateful
    kernel's carried state)."""
    d = _tracked_tmp_dir("sgs_src")
    os.makedirs(d)
    # fixed epoch base: deterministic across runs. Safe against
    # maxFileAge pruning because of UNIFORMITY, not age — FileStreamSource
    # measures maxFileAge relative to the NEWEST mtime it has seen, so a
    # 2001-era base is fine only while every file in this directory shares
    # the same epoch within a few seconds. Never mix fresh-mtime files
    # into a dir staged by this helper: the epoch-based ones would be the
    # side that gets pruned (>7d older than the new latest).
    base = 1_000_000_000
    for i, f in enumerate(files):
        dst = os.path.join(d, f"{i:04d}.parquet")
        if force_order:
            shutil.copy(os.path.abspath(f), dst)
            os.utime(dst, (base + 2 * i, base + 2 * i))
        else:
            os.symlink(os.path.abspath(f), dst)
    return d


def _parquet_parts(path: str) -> list[str]:
    """A parquet source path as its ordered physical file list: the
    file itself, or a directory's name-sorted ``*.parquet`` parts."""
    if os.path.isfile(path):
        return [path]
    import glob as _glob

    parts = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    if not parts:
        raise ValueError(f"no parquet parts under {path!r}")
    return parts


def events_file_stream(
    spark: SparkSession,
    path: str,
    copies: int = 1,
    batch_per_pass: bool = False,
) -> DataFrame:
    """File-based streaming source over a fixture table — the test
    stand-in for the Kafka receiver (op #1), one file per micro-batch.
    It serves any table (events, documents, orders, ...): ``path`` may
    be a single parquet file (staged into a dir) or a directory of
    parts. ``copies`` stages the source N times (N full passes) for
    replay-shaped tests. The stream schema is ``load_table``'s, from
    the same resolver (``tables.parquet_schema``): inferred once per
    file footprint, so a timestamp streams as the table's timestamp[us]
    column and a warm stream start launches no inference job.

    A multi-part directory is ALWAYS re-staged with forced mtimes —
    the source orders batches by ms-granularity mtime, not name, so a
    raw directory streams in arbitrary order and silently corrupts
    every stateful kernel's time-ordered carry (round-10 MULTIFILE
    sweep: six kernels red from this one cause). ``batch_per_pass``
    sets maxFilesPerTrigger to the per-pass part count so ops with
    per-BATCH output contracts (progress counters, per-batch folds)
    see one batch per full pass regardless of the physical layout."""
    schema = parquet_schema(spark, path)
    parts = _parquet_parts(path)
    path = _stage_stream_dir(*(parts * copies), force_order=len(parts) > 1)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", len(parts) if batch_per_pass else 1)
        .parquet(path)
    )
    # streaming twin of load_table's events ingest contract
    # (sources/tables.py clean_measurements): identity on a table with
    # no ts or value column
    return clean_measurements(stream)


def kafka_source_options(bootstrap: str, topics: str) -> dict[str, str]:
    """The exact option map :func:`kafka_source` hands the Kafka
    connector — factored pure so tests can witness the wiring without
    a broker (tests/test_kafka_wiring.py pins every key/value; a
    drifted option name fails there instead of at first deploy).
    Maps ``KafkaStreamAverageCalculator.java:66-67`` (bootstrap +
    topic subscription)."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topics,
        "startingOffsets": "latest",
    }


def kafka_source(spark: SparkSession, bootstrap: str, topics: str) -> DataFrame:
    """Production source wiring (direct, receiver-less — removes the
    reference's single-receiver ingest cap, SURVEY.md §4.2). Option
    map pinned by tests/test_kafka_wiring.py; the ``.load()`` itself
    needs the kafka connector + a broker (absent in the container)."""
    return (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(bootstrap, topics))
        .load()
    )


def kafka_record(stats_df: DataFrame) -> DataFrame:
    """op #8 streaming form: (key, value-JSON) via ``to_json(struct)``
    — the idiomatic serialization (byte-exact oracle parity uses the
    batch form in ``operators/projections.py``)."""
    cols = [c for c in stats_df.columns if c != "readTag_id"]
    return stats_df.select(
        F.col("readTag_id").alias("key"),
        F.to_json(F.struct("readTag_id", *cols)).alias("value"),
    )


#: Longest wait, after a query's ``stop()``, for the tasks of the batch
#: it interrupted to end.
STOP_WAIT_S = 10.0


def _await_stopped(q: StreamingQuery) -> None:
    """Wait, at most ``STOP_WAIT_S``, until no stage of an unfinished
    job in ``q``'s run-id job group (Spark runs each batch of a query
    under it) is active or still runs a task. ``stop()`` interrupts
    the running batch but can return before its tasks end, and a
    stateful task can still write its state-store ``.delta`` file:
    a checkpoint removed before then is recreated by that write."""
    tracker = SparkContext.getOrCreate().statusTracker()
    deadline = time.monotonic() + STOP_WAIT_S
    while time.monotonic() < deadline:
        active = set(tracker.getActiveStageIds())
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(q.runId)]
        stages = [
            s for job in jobs
            if job is not None and job.status != "SUCCEEDED"
            for s in job.stageIds
        ]
        if not any(
            s in active or getattr(tracker.getStageInfo(s), "numActiveTasks", 0)
            for s in stages
        ):
            return
        time.sleep(0.05)


def _drain(
    writer: DataStreamWriter,
    *,
    trigger: dict | None = None,
    checkpoint_dir: str | None = None,
    until=None,
) -> StreamingQuery:
    """Start ``writer`` and run its query to completion: the package's
    one ``.start()``. Without ``checkpoint_dir`` a tracked tmp
    checkpoint is used and removed once the query is stopped. ``trigger``
    defaults to availableNow, which is drained by ``awaitTermination``.
    Any other trigger is drained by ``processAllAvailable``, or, given
    ``until``, by polling it every 0.5 s: a query that dies meanwhile
    raises its own exception, and one that never satisfies ``until``
    raises ``TimeoutError`` after 120 s. The query is stopped on every
    path, and its interrupted batch's tasks are waited for
    (``_await_stopped``) before the checkpoint is removed; the stopped
    query is returned (``recentProgress`` etc.).
    """
    own_ckpt = [] if checkpoint_dir else [_tracked_tmp_dir("sgs_ckpt")]
    trigger = trigger or {"availableNow": True}
    try:
        q = (
            writer.option("checkpointLocation", checkpoint_dir or own_ckpt[0])
            .trigger(**trigger)
            .start()
        )
        try:
            if trigger.get("availableNow"):
                q.awaitTermination()
            elif until is None:
                q.processAllAvailable()
            else:
                deadline = time.monotonic() + 120
                while not until():
                    if (err := q.exception()) is not None:
                        raise err
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"stream {q.name or q.id}: stop condition "
                            "not met after 120 s"
                        )
                    time.sleep(0.5)
        finally:
            q.stop()
            _await_stopped(q)
    finally:
        _cleanup_tmp_dirs(own_ckpt)
    return q


def _run_to_memory(
    df: DataFrame,
    *,
    output_mode: str,
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
    until=None,
) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink (``_drain``'s
    checkpoint, trigger and stop rules); return the sink table as a
    batch DataFrame on the stream's session. ``until(sink_df) -> bool``
    is the stop condition of a stream that ``processAllAvailable``
    cannot drain."""
    spark = df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    _drain(
        df.writeStream.format("memory").queryName(name).outputMode(output_mode),
        trigger=trigger,
        checkpoint_dir=checkpoint_dir,
        until=None if until is None else lambda: until(spark.table(name)),
    )
    return spark.table(name)


def stream_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming flagship: the reference's AverageCalculator as a
    Structured Streaming job — the batch ``running_stats`` body, state
    maintained by the engine, run to completion on the fixture stream.

    Emits the complete per-key result; equals the batch query on the
    same data (verified against the batch DuckDB oracle).
    """
    events = events_file_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    stats = running_stats(events, "event_type", "value")
    return _run_to_memory(stats, output_mode="complete")


STREAM_RUNNING_STATS_SQL = stats_oracle_sql("events", "event_type", "value")


def stream_windowed_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window counts with watermark (SURVEY.md Q2
    idiomatic form of op #13): 1-day windows over the event stream,
    keyed by event_type. Late rows beyond the 1-hour watermark would
    be dropped (exercised in tests); on the fixture replay nothing is
    late, so the result equals the batch/oracle answer."""
    events = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    with_ts = events.withColumn("ev_ts", ts_timestamp())
    counts = (
        with_ts.withWatermark("ev_ts", "1 hour")
        .groupBy(F.window("ev_ts", "1 day"), F.col("event_type"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("window.start").cast("string").alias("day_start"),
            "event_type",
            "cnt",
        )
    )
    return _run_to_memory(counts, output_mode="append")


# Append-mode emission semantics are part of the oracle: a window is
# emitted iff its END is at or below the final watermark
# (max event time − 1 h). Verified empirically: the no-data final
# micro-batch under availableNow advances the watermark and flushes
# exactly these windows.
STREAM_WINDOWED_WORDCOUNT_SQL = """
SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS day_start,
       event_type, COUNT(*) AS cnt
FROM events
GROUP BY 1, 2
HAVING date_trunc('day', min(ts)) + INTERVAL 1 DAY
         <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
"""


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join (SURVEY.md §2.2): the event stream enriched
    with the static customer dimension, then aggregated per market
    segment. The static side is a plain batch DataFrame — Structured
    Streaming re-plans it per micro-batch, and Catalyst broadcasts it
    exactly as in batch, so the streaming fact flow never shuffles for
    the enrich step. Unmatched events (user ids outside the customer
    table) are dropped by the inner join, same as the SQL oracle.
    """
    events = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = events.join(
        F.broadcast(cust), events.user_id == cust.c_custkey
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )
    out = _run_to_memory(agg, output_mode="complete")
    return out.select(
        "c_mktsegment",
        "n_events",
        (F.col("sum_cents").cast("double") / F.lit(100.0)).alias("sum_value"),
    )


STREAM_STATIC_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS VARCHAR) AS DOUBLE)/100.0 AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


SESSION_WM_HOURS = 1


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (session_window + watermark, append
    mode): per-user 4-hour-gap sessions, emitted once closed — i.e.
    when the watermark (max event time − 1 h) passes the session end.
    The availableNow replay ends with a no-data batch that advances the
    watermark and flushes exactly the sessions whose end is at or below
    it; the oracle reproduces that emission rule with gaps-and-islands
    SQL + the same HAVING cutoff. Same state operator as the batch
    ``agg_session_window`` — one query body, two execution modes.
    """
    from ..operators.relational import SESSION_GAP_MIN

    events = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    with_ts = events.withColumn("ev_ts", ts_timestamp())
    sessions = (
        with_ts.withWatermark("ev_ts", f"{SESSION_WM_HOURS} hour")
        .groupBy(
            "user_id", F.session_window("ev_ts", f"{SESSION_GAP_MIN} minutes")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("session_start_us"),
            F.unix_micros("session_window.end").alias("session_end_us"),
            "n_events",
        )
    )
    return _run_to_memory(sessions, output_mode="append")


# derived from the ONE session-gap constant the Spark side uses —
# a hand-copied literal here would let query and oracle drift
from ..operators.relational import SESSION_GAP_MIN as _SESSION_GAP_MIN  # noqa: E402

_GAP_US = _SESSION_GAP_MIN * 60 * 1_000_000
_WM_US = SESSION_WM_HOURS * 3600 * 1_000_000

STREAM_SESSION_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
),
flagged AS (
  SELECT user_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   > {_GAP_US} THEN 1
              WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL THEN 1
              ELSE 0 END AS new_session
  FROM e
),
sessions AS (
  SELECT user_id, us,
         -- RANGE, not ROWS: with TIED timestamps the ROWS frame's
         -- arbitrary tie order is independent of lag()'s, so tied
         -- rows ordered before the flagged first-of-island row fell
         -- into a phantom session (round-10 cap-group sweep, ~23
         -- same-second events per user). RANGE makes peer rows share
         -- the frame: every tied row sees the same island id.
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
                                RANGE UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(us) AS session_start_us,
       MAX(us) + {_GAP_US} AS session_end_us,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
HAVING MAX(us) + {_GAP_US} <= (SELECT MAX(us) - {_WM_US} FROM e)
"""


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows under a watermark (append mode):
    2-day windows every 1 day — each event feeds two overlapping
    window states. Emission follows the tumbling rule: a window flushes
    once its END is at or below the final watermark (max event time
    − 1 h), reproduced in the oracle's HAVING. Batch twin:
    ``operators/analytics.agg_sliding_window``."""
    events = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    with_ts = events.withColumn("ev_ts", ts_timestamp())
    counts = (
        with_ts.withWatermark("ev_ts", "1 hour")
        .groupBy(F.window("ev_ts", "2 days", "1 day"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            F.col("window.start").cast("string").alias("win_start"),
            "event_type",
            "cnt",
            (F.col("sum_cents").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
    )
    return _run_to_memory(counts, output_mode="append")


STREAM_SLIDING_SQL = """
SELECT CAST(date_trunc('day', ts) - to_days(CAST(k AS INT)) AS VARCHAR)
         AS win_start,
       event_type, COUNT(*) AS cnt,
       CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS VARCHAR) AS DOUBLE)/100.0 AS sum_value
FROM events, range(2) t(k)
GROUP BY 1, 2
HAVING MIN(date_trunc('day', ts) - to_days(CAST(k AS INT))) + to_days(2)
         <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
"""


def stream_minute_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS counterpart of the batch rollup hierarchy
    (``operators/curation.ts_rollup_hierarchy``'s minute tier):
    1-minute tumbling windows under a 1 h watermark, append mode — the
    state-evicting incremental materialization a live pipeline runs,
    while the batch tiers backfill history. Emitted buckets (window
    end ≤ final watermark) are bit-identical to the batch tier, which
    the oracle's HAVING reproduces."""
    events = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    with_ts = events.withColumn("ev_ts", ts_timestamp())
    rolled = (
        with_ts.withWatermark("ev_ts", "1 hour")
        .groupBy(F.window("ev_ts", "1 minute"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
            F.count("*").alias("n"),
        )
        .select(
            F.expr("unix_micros(window.start) DIV 60000000").alias("bucket"),
            (F.col("sum_cents").cast("double") / F.lit(100.0)).alias("sum_value"),
            "n",
        )
    )
    return _run_to_memory(rolled, output_mode="append")


STREAM_MINUTE_ROLLUP_SQL = """
SELECT epoch_us(ts) // 60000000 AS bucket,
       CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS VARCHAR) AS DOUBLE)/100.0 AS sum_value,
       COUNT(*) AS n
FROM events
GROUP BY 1
HAVING (MIN(epoch_us(ts)) // 60000000 + 1) * 60000000
         <= (SELECT epoch_us(max(ts) - INTERVAL 1 HOUR) FROM events)
"""


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream inner join with watermarks on both sides
    (SURVEY.md §2.2): each purchase event joined to the same user's
    click events from the preceding hour.

    Both sides carry a watermark and the join range bounds the state
    each side must retain (clicks live for 1 h of event time; purchases
    are droppable once matched past the watermark) — the mechanics that
    make an unbounded join runnable forever. With availableNow replay
    the full join is emitted; the oracle is the equivalent batch
    interval self-join. Output is per-pair, aggregated to per-purchase
    counts to keep the result compact.
    """
    base = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    with_ts = base.withColumn("ev_ts", ts_timestamp())
    purchases = (
        with_ts.filter(F.col("event_type") == "purchase")
        .withWatermark("ev_ts", "1 hour")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ev_ts").alias("p_ts"),
        )
    )
    clicks = (
        with_ts.filter(F.col("event_type") == "click")
        .withWatermark("ev_ts", "1 hour")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ev_ts").alias("c_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
    )
    pairs = _run_to_memory(joined, output_mode="append")
    return (
        pairs.groupBy("p_id", "p_user")
        .agg(F.count("*").alias("n_prior_clicks"))
        .select(
            F.col("p_id").alias("purchase_event_id"),
            F.col("p_user").alias("user_id"),
            "n_prior_clicks",
        )
    )


STREAM_STREAM_JOIN_SQL = """
SELECT p.event_id AS purchase_event_id, p.user_id AS user_id,
       COUNT(*) AS n_prior_clicks
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
 AND epoch_us(c.ts) <  epoch_us(p.ts)
GROUP BY 1, 2
"""


def stream_batch_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's EXACT word-count scoping (op #13 / SURVEY.md Q2):
    counts reset every micro-batch (``KafkaStreamPropertyAggregator``
    has no updateStateByKey). Not declaratively expressible in
    Structured Streaming → ``foreachBatch``: each micro-batch is a
    self-contained batch DataFrame, counted and appended with its
    batch id. The fixture file is staged TWICE with maxFilesPerTrigger=1
    → two micro-batches, each counting the full file independently —
    the per-batch reset is visible as two identical count sets.

    The fold is executor-side (round-11, VERDICT r10 item 4): each
    batch's counts append to a temp parquet sink and the return value
    is a lazy read of that directory — the driver never materializes
    a vocabulary. At 100× vocab the old ``toPandas``-and-concat fold
    accumulated every batch's distinct words in driver memory; now
    driver state is O(1) and the per-batch write is the same
    map-side-combined aggregate shape as the CDC upsert sink below.
    """
    from ..operators.wordcount import word_count

    # batch_per_pass: one batch = one full pass of the corpus even when
    # documents is a multi-part directory (round-10 MULTIFILE sweep)
    stream = events_file_stream(
        spark, os.path.join(sf_dir, "documents.parquet"), copies=2,
        batch_per_pass=True,
    )
    store_dir = _fold_batches(
        stream,
        lambda batch_df, batch_id: word_count(batch_df, "text").withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ),
        "sgs_fb",
    )
    # explicit schema: an all-empty-batch run leaves only zero-row
    # parts, and schema'd read keeps that case inference-proof
    return spark.read.schema("word string, cnt long, batch_id long").parquet(
        store_dir
    )


STREAM_BATCH_WORDCOUNT_SQL = """
SELECT word, COUNT(*) AS cnt, batch_id FROM (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
) t, (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) b(batch_id)
WHERE word <> '' GROUP BY word, batch_id
"""


def kafka_sink_options(
    bootstrap: str, topic: str, checkpoint_dir: str
) -> dict[str, str]:
    """The exact option map :func:`kafka_sink` hands the Kafka sink —
    factored pure for broker-less witnessing (tests/test_kafka_wiring.py).
    Maps ``kafka/KafkaProducer.java:52-54`` (bootstrap + target topic),
    plus the checkpoint dir the reference's fire-and-forget producer
    never had."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def kafka_sink(
    df: DataFrame, bootstrap: str, topic: str, checkpoint_dir: str
):
    """Production sink wiring (op #8): the (key, value) frame produced
    by :func:`kafka_record` written to a Kafka topic. At-least-once
    with checkpointed offsets — already stronger than the reference's
    fire-and-forget retries=0 producer (``kafka/KafkaProducer.java:35``,
    SURVEY.md B5); exactly-once downstream = idempotent consumer or a
    transactional ``foreachBatch`` writer. Option map pinned by
    tests/test_kafka_wiring.py (no broker in the container); returns
    the unstarted writer's query on ``start()`` by the caller."""
    return df.writeStream.format("kafka").options(
        **kafka_sink_options(bootstrap, topic, checkpoint_dir)
    )


def _dedup_fingerprint():
    """Deterministic payload fingerprint for the dedup keep rule:
    md5 over a length-prefixed encoding of (event_type, value-cents) —
    length prefixes make the encoding injective (no separator
    collision), NULL encodes as a distinct 'N' token, and cents (not
    the raw double) so -0.0/0.0 land identically. Mirrored textually
    in STREAM_DEDUP_SQL."""
    def enc(col):
        return F.coalesce(
            F.concat(
                F.lit("S"), F.length(col).cast("string"), F.lit(":"), col
            ),
            F.lit("N"),
        )

    cents_s = F.round(F.col("value") * F.lit(100.0), 0).cast("long").cast("string")
    return F.md5(
        F.encode(
            F.concat(enc(F.col("event_type")), F.lit("|"), enc(cents_s)),
            "UTF-8",
        )
    )


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication with a DETERMINISTIC keep rule:
    the fixture is staged TWICE (two micro-batches, every event_id
    seen in both) and per key the survivor is the row with the
    MINIMUM (event-time, payload-fingerprint) — "first arrival wins,
    fingerprint breaks same-instant ties". A (ts, fp) tie implies an
    identical (event_type, cents) payload, so the choice among tied
    rows cannot change any downstream value. Unlike ``dropDuplicates``
    (arbitrary keep), this parity is UNCONDITIONAL: it holds even when
    the same event_id lands with CONFLICTING payloads (round-10
    dup-conflict pin), so no events_pk_unique precondition is needed.

    Mechanics: stateful ``groupBy(event_id).agg(min_by(payload,
    (ts, fp)))`` — the same O(keys) state ``dropDuplicates`` keeps,
    plus the kept payload. The harness reads the final state via
    complete mode into memory; a production deployment runs update
    mode into an idempotent upsert sink so each micro-batch ships only
    changed keys. At scale, bound the state with event-time windowing
    or ``dropDuplicatesWithinWatermark`` (see
    ``stream_dedup_watermark``, which keeps the documented
    full-row-replay precondition that bounded arbitrary-keep implies).
    """
    stream = events_file_stream(
        spark, os.path.join(sf_dir, "events.parquet"), copies=2
    )
    keyed = stream.select(
        "event_id",
        F.struct("event_type", "value").alias("payload"),
        F.struct(
            ts_micros().alias("t"), _dedup_fingerprint().alias("f")
        ).alias("rank"),
    )
    kept = keyed.groupBy("event_id").agg(F.min_by("payload", "rank").alias("p"))
    mem = _run_to_memory(
        kept.select("event_id", "p.event_type", "p.value"),
        output_mode="complete",
    )
    return mem.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )


STREAM_DEDUP_SQL = """
WITH ranked AS (
  -- exactly-once serving of an at-least-once landing table, with the
  -- kernel's deterministic keep rule mirrored: per event_id the
  -- survivor is the min (event-time, payload-fingerprint) row. The
  -- fingerprint is md5 over a length-prefixed (event_type, cents)
  -- encoding — injective, NULL -> 'N' (pipelines._dedup_fingerprint).
  -- Among (ts, fp) ties ROW_NUMBER picks arbitrarily, which is safe:
  -- tied rows carry identical (event_type, cents).
  SELECT event_id, event_type, value,
         ROW_NUMBER() OVER (
           PARTITION BY event_id
           ORDER BY epoch_us(ts),
                    md5(
                      COALESCE('S' || CAST(length(event_type) AS VARCHAR)
                                 || ':' || event_type, 'N')
                      || '|' ||
                      COALESCE('S' || CAST(length(CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR)) AS VARCHAR)
                                 || ':' || CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR), 'N')
                    )
         ) AS rn
  FROM events
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM ranked WHERE rn = 1 GROUP BY event_type
"""


def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream–stream LEFT OUTER join: every purchase
    emitted, click-matched or not. The null-padded rows are the
    interesting mechanics: the engine can only emit "no match" once
    the watermark proves no qualifying click can still arrive, so
    outer results trail the watermark; availableNow's closing no-data
    batch flushes them. Oracle = batch left join (0 clicks for the
    unmatched)."""
    base = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    with_ts = base.withColumn("ev_ts", ts_timestamp())
    purchases = (
        with_ts.filter(F.col("event_type") == "purchase")
        .withWatermark("ev_ts", "1 hour")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ev_ts").alias("p_ts"),
        )
    )
    clicks = (
        with_ts.filter(F.col("event_type") == "click")
        .withWatermark("ev_ts", "1 hour")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ev_ts").alias("c_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "leftOuter",
    )
    pairs = _run_to_memory(joined, output_mode="append")
    return (
        pairs.groupBy("p_id", "p_user")
        .agg(F.count("c_id").alias("n_prior_clicks"))
        .select(
            F.col("p_id").alias("purchase_event_id"),
            F.col("p_user").alias("user_id"),
            "n_prior_clicks",
        )
    )


# Emission rule mirrored: a click-matched purchase emits immediately,
# but a MATCHLESS purchase only emits once the global watermark reaches
# p_ts — no earlier moment proves no qualifying click can still arrive
# (the join range ends at p_ts). The global watermark is the MINIMUM
# over both watermarked inputs (multipleWatermarkPolicy=min), each
# computed from ITS OWN max event time − 1 h; the HAVING clause
# reproduces exactly that terminal value.
STREAM_STREAM_LEFT_SQL = """
SELECT p.event_id AS purchase_event_id, p.user_id AS user_id,
       COUNT(c.event_id) AS n_prior_clicks
FROM events p LEFT JOIN events c
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
 AND epoch_us(c.ts) <  epoch_us(p.ts)
WHERE p.event_type = 'purchase'
GROUP BY 1, 2, epoch_us(p.ts)
HAVING COUNT(c.event_id) > 0
    OR epoch_us(p.ts) <= (
         SELECT LEAST(
             (SELECT MAX(epoch_us(ts)) FROM events WHERE event_type = 'purchase'),
             (SELECT MAX(epoch_us(ts)) FROM events WHERE event_type = 'click')
           ) - 3600000000
       )
"""


def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    evicts seen-key state once the watermark passes — the form that
    runs forever at 100 TB (the plain dropDuplicates variant above
    keeps keys forever). The 40-day delay exceeds the fixture's 30-day
    span, so no duplicate escapes eviction here and the result equals
    the batch distinct; in production the delay is the dedup horizon.
    """
    stream = events_file_stream(
        spark, os.path.join(sf_dir, "events.parquet"), copies=2
    )
    deduped = (
        stream.withColumn("ev_ts", ts_timestamp())
        .withWatermark("ev_ts", "40 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    mem = _run_to_memory(
        deduped.select("event_id", "event_type", "value"), output_mode="append"
    )
    return mem.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )


STREAM_DEDUP_WM_SQL = STREAM_DEDUP_SQL


PYSTREAM_BATCHES = 3
PYSTREAM_ROWS = 100
# one tag-space and one row formula with the batch Python DataSource
# (sources/sinks.py) — see synth_reading's docstring
from ..sources.sinks import PYSRC_TAGS as PYSTREAM_TAGS  # noqa: E402
from ..sources.sinks import synth_reading as _synth_reading  # noqa: E402


def _pystream_source():
    """Streaming Python DataSource (built lazily): a deterministic
    micro-batch feed of reference-shaped sensor readings. The reader
    owns the offset log — a dict {"b": n} — so restart/replay
    semantics (readBetweenOffsets) are exact."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    def _rows(b: int) -> list:
        return [
            _synth_reading(g)
            for g in range(b * PYSTREAM_ROWS, (b + 1) * PYSTREAM_ROWS)
        ]

    class _SR(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"b": 0}

        def read(self, start):
            # the runner copy.copy()s the returned iterator for its
            # prefetch cache — return a list iterator, not a generator
            b = start["b"]
            if b >= PYSTREAM_BATCHES:
                return iter([]), {"b": b}
            return iter(_rows(b)), {"b": b + 1}

        def readBetweenOffsets(self, start, end):
            out: list = []
            for b in range(start["b"], end["b"]):
                out.extend(_rows(b))
            return iter(out)

    class PyStreamReadings(DataSource):
        @classmethod
        def name(cls) -> str:
            return "pystream_readings"

        def schema(self) -> str:
            return "tag string, reading double"

        def simpleStreamReader(self, schema):
            return _SR()

    return PyStreamReadings


def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming custom connector (Spark 4 Python DataSource,
    SimpleDataSourceStreamReader): three deterministic micro-batches
    of reference-shaped readings flow through the flagship per-tag
    aggregate under a processing-time trigger; the query is stopped
    once the sink shows every generated row (availableNow snapshots
    only the first offset of a Python simple reader, so draining is
    poll-based, as in ``stream_stats_heartbeat``). The offset dict is
    checkpointed like any source's, so recovery replays exactly.
    ``sf_dir`` is unused: the source is the data.
    """
    spark.dataSource.register(_pystream_source())
    total = PYSTREAM_BATCHES * PYSTREAM_ROWS
    agg = (
        spark.readStream.format("pystream_readings").load()
        .groupBy("tag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("reading") * 100).cast("long")).alias("sum_cents"),
            F.min("reading").alias("min_reading"),
            F.max("reading").alias("max_reading"),
        )
    )
    return _run_to_memory(
        agg,
        output_mode="complete",
        trigger={"processingTime": "1 second"},
        until=lambda sink: sink.agg(F.sum("n")).collect()[0][0] == total,
    )


STREAM_PYSRC_SQL = f"""
WITH g AS (
  SELECT unnest(range(0, {PYSTREAM_BATCHES * PYSTREAM_ROWS})) AS gid
),
rows_ AS (
  SELECT 'tag' || CAST(gid % {PYSTREAM_TAGS} AS VARCHAR) AS tag,
         CAST((gid * 37) % 1000 AS DOUBLE) / 10.0 AS reading
  FROM g
)
SELECT tag, COUNT(*) AS n,
       CAST(SUM(CAST(round(reading*100) AS BIGINT)) AS BIGINT) AS sum_cents,
       MIN(reading) AS min_reading, MAX(reading) AS max_reading
FROM rows_ GROUP BY tag
"""


def stream_topk_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-mode streaming top-k: the running top-3 event types by
    count, re-ranked every micro-batch. Sorting a streaming aggregate
    is legal ONLY in complete output mode (append/update cannot order
    an unbounded result) — this registers that mode/operator pairing;
    the memory sink holds the final ranked table after the replay.

    At scale: complete mode re-emits the whole (small, per-key)
    aggregate each batch — right for dashboards over low-cardinality
    keys, wrong for high-cardinality output (use update mode + an
    external ranking store there).
    """
    events = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    counts = (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .orderBy(F.col("n_events").desc(), F.col("event_type"))
        .limit(3)
    )
    return _run_to_memory(counts, output_mode="complete")


STREAM_TOPK_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
ORDER BY n_events DESC, event_type LIMIT 3
"""


def stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability surface: the per-micro-batch
    StreamingQueryProgress counters (batch id, input rows) of a
    two-batch replay — what a lag/throughput monitor ingests. The
    fixture is staged twice with maxFilesPerTrigger=1, so the batch
    boundaries are deterministic: two batches, each one full copy of
    the events file; the oracle states exactly that.

    Only batches that moved data are emitted (availableNow appends a
    closing no-data batch whose input count is 0).
    """
    # batch_per_pass: under a multi-part layout each batch is still
    # one FULL copy of the corpus, keeping the two-batch contract the
    # oracle states (round-10 MULTIFILE sweep: 4-part × 2 copies
    # emitted 8 per-part rows against the oracle's 2)
    stream = events_file_stream(
        spark, os.path.join(sf_dir, "events.parquet"), copies=2,
        batch_per_pass=True,
    )
    counted = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    q = _drain(counted.writeStream.format("noop").outputMode("complete"))
    rows = [
        (int(p["batchId"]), int(p["numInputRows"]))
        for p in q.recentProgress
        if int(p["numInputRows"]) > 0
    ]
    return spark.createDataFrame(
        rows, schema="batch_id long, num_input_rows long"
    )


STREAM_PROGRESS_SQL = """
SELECT CAST(b.batch_id AS BIGINT) AS batch_id,
       (SELECT COUNT(*) FROM main.events) AS num_input_rows
FROM (VALUES (0), (1)) b(batch_id)
WHERE (SELECT COUNT(*) FROM main.events) > 0
"""
# the WHERE mirrors the operator's only-batches-that-moved-data
# contract on an EMPTY corpus: zero staged rows -> zero data-moving
# batches -> zero rows (empty-corpus sweep, round 7); on any non-empty
# corpus the predicate is constant-true and the two rows are unchanged.
# main.events (the RAW view, bypassing the ingest-contract shadow
# CTE): num_input_rows is Spark's SOURCE-level progress metric — it
# counts rows read from the landing files BEFORE the clock-validity
# filter runs (round-8 TIME sweep: 1000 staged vs 824 valid).


def stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet file sink — the production lake-writer path:
    events filtered and reshaped in-stream, written to partitioned
    parquet with the sink's transaction log (_spark_metadata) giving
    exactly-once per batch; the read-back aggregate must equal the
    batch query. Partitioned by event_type so downstream key-filtered
    reads prune directories."""
    events = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    shaped = events.filter(F.col("value") > 0).select(
        "event_id",
        # over-long partition values crash the streaming writer too
        # (CATKEY, r12): route to the hive default partition like ''
        partitionable_key("event_type").alias("event_type"),
        "user_id",
        "value",
    )
    out_dir = _tracked_tmp_dir("sgs_fsink")
    try:
        _drain(
            shaped.writeStream.format("parquet")
            .option("path", out_dir)
            .partitionBy("event_type")
        )
        # explicit schema: a zero-row stream commits only the
        # _spark_metadata log — nothing to infer from (and a lake
        # reader should declare its schema anyway)
        back = spark.read.schema(shaped.schema).parquet(out_dir)
        agg = back.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        pdf = agg.toPandas()
    finally:
        _cleanup_tmp_dirs([out_dir])
    return spark.createDataFrame(pdf, schema=agg.schema)


STREAM_FILE_SINK_SQL = f"""
-- the CASE mirrors the hive default-partition conflation of '' AND
-- over-long values with NULL on the partitioned write's read-back
-- (round-9 groupkey sweep + round-12 CATKEY; see
-- sink_parquet_roundtrip's docstring); identity when every key is
-- short and non-empty.
SELECT CASE WHEN octet_length(encode(event_type)) <= {PARTITION_KEY_MAX_BYTES}
            THEN NULLIF(event_type, '') END AS event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events WHERE value > 0 GROUP BY 1
"""


def stream_kafka_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE flagship loop as one streaming query
    (``KafkaStreamAverageCalculator`` end-to-end): JSON records arrive
    on the stream → ``from_json`` parse (#2/#3) → string-encoded-double
    cast (#4, Q1) → stateful per-key statistics (#5) → 10-field JSON
    result record (#8) keyed by tag id — the exact (key, value) shape
    the reference produces to Kafka, minus its B1/B2/B4 bugs.

    Byte-exact oracle: result numbers are serialized as DECIMAL(38,4)
    (``to_json`` renders fixed scale), so the value string matches the
    oracle's string concatenation to the byte. Swap ``_run_to_memory``
    for ``kafka_sink`` and this is the production deployment.
    """
    events = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    # A1-shaped record synthesis in-stream (fixture stand-in for the
    # Kafka value bytes). Synthesized with to_json(struct(...)) — the
    # same serialization a real JSON producer performs — NOT a raw
    # concat: a concat-built doc goes malformed the moment a tag
    # contains '"', '\' or a control char, and from_json then silently
    # moves every such row into the anonymous-tag bucket (round-10
    # groupkey sweep: 6 groups vs the oracle's 8). to_json escapes, so
    # the tag round-trips byte-exactly through from_json for ANY key.
    # A missing measurement drops the readValue field (ignoreNullFields
    # default), which from_json reads back as NULL — the tag survives
    # a missing value (round-8 NaN/Inf sweep).
    doc = F.to_json(
        F.struct(
            F.col("event_type").alias("readTag_id"),
            F.col("value").cast("decimal(14,2)").cast("string").alias("readValue"),
        )
    )
    schema = "readTag_id string, readValue string"
    parsed = events.select(F.from_json(doc, schema).alias("j")).select(
        F.col("j.readTag_id").alias("readTag_id"),
        F.col("j.readValue").cast("double").alias("v"),
    )
    stats = running_stats(parsed, "readTag_id", "v")
    record = kafka_record(
        stats.select(
            "readTag_id",
            *(F.col(c).cast("decimal(38,4)").alias(c) for c in STAT_COLS),
        )
    )
    # An untaggable record (NULL readTag_id — the JSON synthesis
    # propagates a NULL event_type through the whole doc) renders NO
    # value: the oracle's `||` concatenation NULLs the record string,
    # while to_json would silently DROP the null fields and emit a
    # partial record (round-8 NULL-keys sweep) — gate it explicitly.
    record = record.select(
        "key", F.when(F.col("key").isNotNull(), F.col("value")).alias("value")
    )
    return _run_to_memory(record, output_mode="complete")


def _fold_batches(stream: DataFrame, partial, tag: str) -> str:
    """Drain ``stream`` through ``foreachBatch``, appending each
    micro-batch's ``partial(batch_df, batch_id)`` frame to a parquet
    store; return the store dir for the caller's serve-time fold. The
    dir outlives this call (the caller's frame reads it lazily) and is
    removed at process exit, like the staged sources."""
    store_dir = _tracked_tmp_dir(f"{tag}_store")

    def append(batch_df: DataFrame, batch_id: int) -> None:
        partial(batch_df, batch_id).write.mode("append").parquet(store_dir)

    _drain(stream.writeStream.foreachBatch(append))
    return store_dir


def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style upsert sink via ``foreachBatch``: each micro-batch's
    per-key latest row (greatest (event time, event_id) tuple) is
    MERGEd into an accumulated keyed parquet store — the pattern for
    maintaining a mutable serving table from an append-only stream
    when the sink has no native merge. Each batch appends only its
    per-key latest (a map-side-combined aggregate, rows = batch key
    cardinality); the serving view is a merge-on-read fold —
    union-all of the appended deltas + per-key argmax — exactly how
    Delta/Iceberg MERGE-on-read compaction behaves. On a lakehouse
    this batch fn becomes ``MERGE INTO`` and the fold disappears;
    nothing here is driver-resident, so the shape survives any key
    cardinality (the previous harness used a driver-side dict, which
    would not).
    The fixture is staged twice, so every key arrives in two batches
    and the merge's last-writer-wins discipline is what the oracle
    checks: the final store equals the batch latest-per-key query."""
    stream = events_file_stream(
        spark, os.path.join(sf_dir, "events.parquet"), copies=2
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch_df.withColumn("us", ts_micros())
            .groupBy("user_id")
            .agg(F.max(F.struct("us", "event_id", "value")).alias("s"))
            .select("user_id", "s.us", "s.event_id", "s.value")
        )

    store_dir = _fold_batches(stream, upsert, "sgs_ups")
    # merge-on-read: per-key argmax over the union of batch deltas.
    # One shuffle on user_id; struct-max keeps it a single aggregate.
    return (
        spark.read.parquet(store_dir)
        .groupBy("user_id")
        .agg(F.max(F.struct("us", "event_id", "value")).alias("s"))
        .select(
            "user_id",
            F.col("s.us").alias("last_us"),
            F.col("s.event_id").alias("last_event_id"),
            F.col("s.value").alias("last_value"),
        )
    )


STREAM_UPSERT_SQL = """
SELECT user_id, epoch_us(ts) AS last_us, event_id AS last_event_id,
       value AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
"""


def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``analytics.ts_ohlc_bars``: OHLC candles
    maintained incrementally by a windowed streaming aggregate —
    open/close as struct-min/struct-max over (us, event_id, value),
    high/low/count/sum as plain aggregates, per (event_type, 5-minute
    event-time window). Complete-mode replay of the fixture must equal
    the batch OHLC oracle exactly — the batch/stream parity that lets a
    dashboard switch to the live feed without re-deriving semantics.

    At scale: struct-min/max is an associative streaming-state
    aggregate (a few scalars per open window), and a production run
    adds a watermark to bound state; the replay here is complete-mode
    so every bar is emitted once at the end.
    """
    from ..operators.analytics import BAR_US
    from ..sources.tables import ts_micros, ts_timestamp

    ev = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    us = ts_micros()
    base = ev.select(
        "event_type",
        ts_timestamp().alias("ev_ts"),
        us.alias("us"),
        "event_id",
        "value",
    )
    agg = (
        base.groupBy("event_type", F.window("ev_ts", f"{BAR_US // 1_000_000} seconds"))
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("low"),
            F.max("value").alias("high"),
            F.min(F.struct("us", "event_id", "value")).alias("o"),
            F.max(F.struct("us", "event_id", "value")).alias("c"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            "event_type",
            (F.unix_micros(F.col("window.start")) / F.lit(BAR_US))
            .cast("long")
            .alias("bar"),
            "n",
            F.col("o.value").alias("open"),
            "high",
            "low",
            F.col("c.value").alias("close"),
            "sum_cents",
        )
    )
    return _run_to_memory(agg, output_mode="complete")


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with DELETE semantics — the step beyond
    ``stream_foreachbatch_upsert``: the change stream carries
    upserts AND tombstones (op = 'D' when event_type = 'error', the
    "account closed" signal; every other event upserts the user's
    latest value), and the serving table must make tombstoned keys
    DISAPPEAR, not just go stale.

    Mechanics: each micro-batch appends its per-key latest change —
    including the tombstone rows — to a keyed parquet delta store; the
    serving view is merge-on-read: per-key argmax over all deltas,
    then tombstone filter. Keeping tombstones in the deltas (rather
    than deleting matching rows per batch) is exactly how
    Delta/Iceberg merge-on-read handles DELETE: the tombstone must
    win the argmax against any OLDER upsert from a previous batch,
    which a per-batch in-place delete would get wrong whenever a
    late upsert for the same key arrived after the delete's batch.
    Nothing is driver-resident; one shuffle per batch on the key.

    The fixture streams twice (every key crosses batches), and the
    oracle is the batch latest-per-key with final-op-wins delete
    filtering — last-writer-wins INCLUDING deletes.

    NULL-keys contract (round-8 sweep): a NULL event_type is an
    UPSERT, not a tombstone — only the explicit 'error' signal
    deletes (the op column's ``otherwise('U')`` already said so; the
    oracle's bare ``event_type <> 'error'`` silently dropped
    NULL-typed finals). NULL user_id is one anonymous key in both
    engines (groupBy and PARTITION BY both group NULLs).
    """
    stream = events_file_stream(
        spark, os.path.join(sf_dir, "events.parquet"), copies=2
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch_df.withColumn("us", ts_micros())
            .withColumn(
                "op",
                F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
                    F.lit("U")
                ),
            )
            .groupBy("user_id")
            .agg(F.max(F.struct("us", "event_id", "op", "value")).alias("s"))
            .select("user_id", "s.us", "s.event_id", "s.op", "s.value")
        )

    store_dir = _fold_batches(stream, apply_batch, "sgs_cdc")
    return (
        spark.read.parquet(store_dir)
        .groupBy("user_id")
        .agg(F.max(F.struct("us", "event_id", "op", "value")).alias("s"))
        .filter(F.col("s.op") != "D")
        .select(
            "user_id",
            F.col("s.us").alias("last_us"),
            F.col("s.event_id").alias("last_event_id"),
            F.col("s.value").alias("last_value"),
        )
    )


STREAM_CDC_SQL = """
SELECT user_id, epoch_us(ts) AS last_us, event_id AS last_event_id,
       value AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1 AND (event_type IS NULL OR event_type <> 'error')
"""


def stream_freshness_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``featurize.dq_freshness_sla``: the freshness
    monitor maintained INCREMENTALLY — per micro-batch, a running
    (max event time, count) per event_type folds into a keyed parquet
    delta store via foreachBatch (max and count are associative, so
    per-batch partials merge exactly); the serving view computes each
    type's lag behind the global high-water mark. The batch oracle
    over the same fixture must match exactly — a freshness dashboard
    can switch from nightly batch to the live stream without its
    numbers moving.

    Same merge-on-read discipline as the upsert/CDC sinks: nothing
    driver-resident, one tiny (|types|-row) append per batch, fold =
    group-max/group-sum over the deltas.
    """
    from ..operators.featurize import FRESH_SLA_US

    stream = events_file_stream(
        spark, os.path.join(sf_dir, "events.parquet"), copies=2
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch_df.withColumn("us", ts_micros())
            .groupBy("event_type")
            .agg(F.max("us").alias("latest_us"), F.count("*").alias("n"))
        )

    store_dir = _fold_batches(stream, fold_batch, "sgs_fresh")
    # counts fold additively, so the 2x fixture replay doubles them —
    # normalize by the known replay factor; max() is replay-idempotent
    # and needs nothing. The deltas stay pure partial aggregates.
    per_type = (
        spark.read.parquet(store_dir)
        .groupBy("event_type")
        .agg(
            F.max("latest_us").alias("latest_us"),
            (F.sum("n") / 2).cast("long").alias("n_events"),
        )
    )
    hwm = per_type.agg(F.max("latest_us").alias("hwm_us"))
    return per_type.crossJoin(F.broadcast(hwm)).select(
        "event_type",
        "n_events",
        "latest_us",
        (F.col("hwm_us") - F.col("latest_us")).alias("lag_us"),
        ((F.col("hwm_us") - F.col("latest_us")) <= FRESH_SLA_US).alias(
            "within_sla"
        ),
    )


def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user estimation with the PORTABLE HLL
    (functions/hashing.py) held as foreachBatch state: each micro-batch
    appends its per-(event_type, bucket) max-rho partial sketch to a
    keyed delta store, and the serving view merges max-of-max per
    bucket before applying the estimate formula. Because HLL register
    maxima are associative AND idempotent, the double fixture replay
    needs NO normalization (contrast ``stream_freshness_watermark``'s
    count division) — the merged sketch is bit-identical to the batch
    sketch, so the *approximate* streaming answer still hash-matches
    the batch oracle exactly.

    This is the 100 TB streaming-cardinality pattern: state per key is
    256 small integers regardless of stream length, deltas are a few
    KB per batch, and the merge reads sketches, never events.
    """
    from ..functions.hashing import hll_bucket_rho, hll_estimate_from_sketch

    stream = events_file_stream(
        spark, os.path.join(sf_dir, "events.parquet"), copies=2
    )

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # per-row coordinates come from the ONE shared definition in
        # functions/hashing.py — bit-parity with the batch sketch is
        # the module's guarantee, not a coincidence of two copies
        bucket, rho = hll_bucket_rho(F.col("user_id").cast("string"))
        return (
            batch_df.select(
                "event_type", bucket.alias("bkt"), rho.alias("rho")
            )
            .groupBy("event_type", "bkt")
            .agg(F.max("rho").alias("max_rho"))
        )

    store_dir = _fold_batches(stream, sketch_batch, "sgs_hll")
    merged = (
        spark.read.parquet(store_dir)
        .groupBy("event_type", "bkt")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    return hll_estimate_from_sketch(merged, ["event_type"])


def _stream_hll_sql() -> str:
    from ..functions.hashing import hll_oracle_sql

    return hll_oracle_sql("events", "event_type", "CAST(user_id AS VARCHAR)")


STREAM_HLL_SQL = _stream_hll_sql()


def stream_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``auditing.dq_column_profile`` minus the
    distinct counts: per micro-batch the per-column (rows, nulls,
    min, max) partials fold into a keyed parquet delta store via
    foreachBatch — all four are associative, so the merge-on-read
    fold is exact and the live profile equals the nightly batch one
    row-for-row (distinct counts are the one non-associative column;
    the streaming form would carry the portable HLL as
    ``stream_hll_distinct`` does — composable, not duplicated here).

    Same no-driver-state discipline as ``stream_freshness_watermark``:
    one 5-row partial per batch, group-fold at serve time.
    """
    from ..operators.auditing import _PROFILE_COLS

    stream = events_file_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # partials stay in their NATIVE types (one wide row): a
        # string-rendered min would fold lexicographically ("100" <
        # "99") — rendering happens once, at serve time
        aggs = [F.count("*").alias("n_rows")]
        for name, _render in _PROFILE_COLS:
            aggs.extend(
                [
                    F.sum(F.col(name).isNull().cast("long")).alias(f"nn_{name}"),
                    F.min(name).alias(f"mn_{name}"),
                    F.max(name).alias(f"mx_{name}"),
                ]
            )
        return batch_df.agg(*aggs)

    store = spark.read.parquet(_fold_batches(stream, fold_batch, "sgs_prof"))
    fold_aggs = [F.sum("n_rows").alias("n_rows")]
    for name, _render in _PROFILE_COLS:
        fold_aggs.extend(
            [
                F.sum(f"nn_{name}").alias(f"nn_{name}"),
                F.min(f"mn_{name}").alias(f"mn_{name}"),
                F.max(f"mx_{name}").alias(f"mx_{name}"),
            ]
        )
    folded = store.agg(*fold_aggs)
    rendered = folded.select(
        "n_rows",
        *[
            F.expr(render.format(c=f"mn_{name}")).alias(f"rmn_{name}")
            for name, render in _PROFILE_COLS
        ],
        *[
            F.expr(render.format(c=f"mx_{name}")).alias(f"rmx_{name}")
            for name, render in _PROFILE_COLS
        ],
        *[F.col(f"nn_{name}") for name, _ in _PROFILE_COLS],
    )
    stack_args = ", ".join(
        f"'{name}', nn_{name}, rmn_{name}, rmx_{name}"
        for name, _ in _PROFILE_COLS
    )
    return rendered.select(
        "n_rows",
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args})"
            " AS (col_name, n_null, min_s, max_s)"
        ),
    ).select("col_name", "n_rows", "n_null", "min_s", "max_s")


def _stream_profile_sql() -> str:
    from ..operators.auditing import _PROFILE_COLS, _profile_branch_sql

    branches = []
    for name, render in _PROFILE_COLS:
        b = _profile_branch_sql(name, render.replace("AS STRING", "AS VARCHAR"))
        # drop the n_distinct column: not associative without a sketch
        b = b.replace("\n         COUNT(DISTINCT " + name + ") AS n_distinct,", "")
        branches.append(b)
    return "\nUNION ALL\n".join(branches)


STREAM_PROFILE_SQL = _stream_profile_sql()


def stream_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming skyline: the price/date Pareto frontier of orders
    maintained incrementally — each micro-batch contributes its LOCAL
    frontier to a parquet candidate store (skylines are associative:
    pareto(A ∪ B) = pareto(pareto(A) ∪ pareto(B)), so per-batch
    pruning is lossless), and the serving fold runs the same frontier
    pass over the union of candidates. Matches the batch
    ``sort_pareto_front`` oracle row-for-row — the dominance-pruning
    discipline that keeps unbounded-stream skyline state at frontier
    size, not stream size.
    """
    from ..functions.exact import cents

    # a multi-part orders directory streams one part per batch: the
    # frontier fold is a monotone union, so batching and order are
    # both immaterial
    stream = events_file_stream(spark, os.path.join(sf_dir, "orders.parquet"))

    def local_frontier(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return _frontier(
            batch_df.select(
                "o_orderkey",
                cents("o_totalprice").alias("price_c"),
                ts_micros("o_orderdate").alias("us"),
            ).select(
                "o_orderkey", "price_c",
                F.expr("us DIV 86400000000").alias("day"),
            )
        )

    store_dir = _fold_batches(stream, local_frontier, "sgs_sky")
    return _frontier(spark.read.parquet(store_dir))


def _frontier(df: DataFrame) -> DataFrame:
    """The price/day Pareto frontier of ``(o_orderkey, price_c, day)``
    rows: a row survives when its price is the maximum of its day and
    above every earlier day's maximum. Run per micro-batch and again
    over the union of the batch frontiers."""
    w_same = Window.partitionBy("day")
    w_before = Window.orderBy("day").rangeBetween(Window.unboundedPreceding, -1)
    return (
        df.withColumn("max_same", F.max("price_c").over(w_same))
        .filter(F.col("price_c") >= F.col("max_same"))
        .withColumn(
            "max_before",
            F.coalesce(F.max("price_c").over(w_before), F.lit(-1)),
        )
        .filter(F.col("price_c") > F.col("max_before"))
        .select("o_orderkey", "price_c", "day")
    )


def stream_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch: per micro-batch the batch's CMS
    counter partials (d × bucket sums) AND its vocab count partials
    fold into parquet delta stores — counters are LINEAR in the word
    counts, so summed per-batch counters are bit-identical to the
    batch-built sketch, and the served top-k audit (estimate ≥ exact,
    same md5 coordinates) matches ``approx_cms_topk``'s oracle
    row-for-row. Completes the streaming sketch family:
    ``stream_hll_distinct`` (register max), this (counter sum) —
    both merges associative, both engine-portable.
    """
    from ..functions.hashing import hash64
    from ..operators.analytics import CMS_D, CMS_TOPK, CMS_W
    from ..operators.wordcount import tokenize

    stream = events_file_stream(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    cnt_store = _tracked_tmp_dir("sgs_cms_counters")
    wc_store = _tracked_tmp_dir("sgs_cms_wc")

    def coords_of(wc: DataFrame) -> DataFrame:
        return wc.select(
            "word",
            "n",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.pmod(
                                hash64(
                                    F.concat(F.lit(f"cms{d}:"), F.col("word"))
                                ),
                                F.lit(CMS_W),
                            ).alias("bucket"),
                        )
                        for d in range(CMS_D)
                    ]
                )
            ).alias("c"),
        ).select("word", "n", "c.d", "c.bucket")

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        wc = tokenize(batch_df, "text").groupBy("word").agg(
            F.count("*").alias("n")
        )
        wc.write.mode("append").parquet(wc_store)
        coords_of(wc).groupBy("d", "bucket").agg(
            F.sum("n").alias("cnt")
        ).write.mode("append").parquet(cnt_store)

    _drain(stream.writeStream.foreachBatch(fold_batch))
    counters = (
        spark.read.parquet(cnt_store)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    wc = (
        spark.read.parquet(wc_store)
        .groupBy("word")
        .agg(F.sum("n").alias("exact_n"))
    )
    top = wc.orderBy(F.col("exact_n").desc(), F.col("word")).limit(CMS_TOPK)
    top_coords = coords_of(
        top.select("word", F.col("exact_n").alias("n"))
    ).select("word", F.col("n").alias("exact_n"), "d", "bucket")
    return (
        top_coords.join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("word", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "word",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overestimate"),
        )
    )


def stream_kanon_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``auditing.privacy_kanon_cells``: the
    anonymized extract maintained live — per micro-batch the
    (type, day, user-bucket) cell partials fold into a parquet delta
    store (counts and cent-sums add), and the k=5 suppression floor
    is applied AT SERVE TIME over the folded totals. Order matters
    and this is the right order: suppressing per batch would leak
    cells that only clear k cumulatively, and under-release ones
    that do — the fold-then-floor rule is what makes a privacy
    gate streamable at all. Batch-parity oracle.
    """
    from ..operators.auditing import KANON_BUCKET, KANON_K

    stream = events_file_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch_df.select(
                "event_type",
                ts_micros().alias("us"),
                F.expr(f"user_id DIV {KANON_BUCKET}").alias("user_bucket"),
                F.round(F.col("value") * 100).cast("long").alias("cents"),
            )
            .select(
                "event_type",
                F.expr("us DIV 86400000000").alias("day"),
                "user_bucket",
                "cents",
            )
            .groupBy("event_type", "day", "user_bucket")
            .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
        )

    cells = (
        spark.read.parquet(_fold_batches(stream, fold_batch, "sgs_kanon"))
        .groupBy("event_type", "day", "user_bucket")
        .agg(F.sum("n").alias("n"), F.sum("sum_cents").alias("sum_cents"))
    )
    supp = cells.groupBy("event_type", "day").agg(
        F.sum(F.when(F.col("n") < KANON_K, 1).otherwise(0))
        .alias("n_suppressed_cells"),
        F.sum(F.when(F.col("n") < KANON_K, F.col("n")).otherwise(0))
        .alias("n_suppressed_rows"),
    )
    return (
        cells.filter(F.col("n") >= KANON_K)
        .join(F.broadcast(supp), ["event_type", "day"])
        .select(
            "event_type", "day", "user_bucket", "n", "sum_cents",
            "n_suppressed_cells", "n_suppressed_rows",
        )
    )
