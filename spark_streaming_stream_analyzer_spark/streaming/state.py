"""Exact-parity positional-state operator (build plan M3).

The one place the rebuild needs custom streaming state: reproducing
the reference's literal per-key state machine —
``Double[8] = [sum, count, sumsqr, bestmin, bestmax, mean, m2, var]``
(``KafkaStreamAverageCalculator.java:102-171``), including the
internals (`m2`, Welford ``delta``) that the standard declarative
aggregate intentionally does not expose (bug B4, SURVEY.md §2.3).

Implemented with ``applyInPandasWithState`` (Arrow-batched grouped
state; ``transformWithStateInPandas`` is the 4.x successor — same
shape, richer timers/TTL — the API used here runs on 3.4+ and 4.x).

Intentional divergences from the reference, as decided in SURVEY.md:
 - B1 fixed: min/max seed with ±inf, not the broken −10/−150
   sentinels (divergence asserted in tests/test_stats.py).
 - B2 fixed: the emitted key is the real group key.
 - B3 adopted: emits only keys present in the batch (update-mode
   semantics), not every known key every batch.

Determinism: sum/count/sumsqr accumulate in *integer cents* inside the
state (associative, order-free — same policy as ``functions/exact.py``)
so emitted sums/means/variances are bit-equal to the batch oracle under
any partitioning and batch slicing. ``mean``/``m2``/``var`` are
derived from the exact integers at emission time; ``delta`` — the
reference's leaked loop temporary — is additionally tracked verbatim
(last value's Welford delta, 0.0 for empty updates) for parity-mode
consumers; it IS order-dependent, exactly like the reference's, and is
excluded from oracle comparison.

Scale: state is (a few numbers + key) per key in the state store; with
RocksDB provider this runs at 100 TB key cardinality. The Arrow batch
path keeps per-batch Python overhead O(batch), not O(row).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import op_session


#: Squared-cents partial sums overflow int64 around ~9e6 rows/key for
#: 1e4-magnitude values, so ``sumsq`` is carried as two base-10^18
#: limbs (hi·10^18 + lo) — the streaming-state equivalent of
#: ``functions/exact.py``'s DECIMAL(38,0) discipline; headroom is
#: ~9.2e36, i.e. ~9e24 rows/key. ``sum_cents`` itself stays a single
#: long (overflow needs ~9e12 rows/key at the same magnitude).
SUMSQ_LIMB = 10**18


def _sumsq_exact(cents: pd.Series) -> int:
    """Exact Σcents² over one batch as a Python int. Per-row cents²
    (<= 1e16 under the magnitude clause) fits int64, but a pandas
    int64 SUM does not promote — it wraps silently at 9.2e18, i.e.
    ~920 all-cap rows in one micro-batch (round-10 cap-group sweep:
    the limb STORAGE was exact while the per-batch fold feeding it
    had already wrapped, 1.55e17 where 2e18 was true). Split
    c2 = a·1e8 + b and sum the limb columns (each int64-safe to
    ~9.2e10 rows/batch), recombining in arbitrary-precision Python
    ints."""
    c2 = cents * cents
    a = c2 // 10**8
    return int(a.sum()) * 10**8 + int((c2 - a * 10**8).sum())


STATE_SCHEMA = (
    "sum_cents LONG, n LONG, sumsq_hi LONG, sumsq_lo LONG, "
    "bestmin DOUBLE, bestmax DOUBLE, last_delta DOUBLE"
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("readTag_id", T.StringType()),
        T.StructField("summer", T.DoubleType()),
        T.StructField("counter", T.DoubleType()),
        T.StructField("sumsqr", T.DoubleType()),
        T.StructField("bestmin", T.DoubleType()),
        T.StructField("bestmax", T.DoubleType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("m2", T.DoubleType()),
        T.StructField("var", T.DoubleType()),
        T.StructField("delta", T.DoubleType()),
    ]
)


def _stats_fields(
    sum_c: int, n: int, sumsq_c2: int, bestmin: float, bestmax: float
) -> dict:
    """The seven emitted statistics from the integer state, with the
    batch flagship's missing-measurement semantics: a key every one of
    whose values is missing (n == 0) emits NULL sums/extrema/mean/m2 —
    NOT 0.0 sums and the internal ±inf extrema sentinels, which the
    round-9 zero-variance sweep caught leaking — while counter stays
    0.0 and var keeps the reference's explicit n<=1 -> 0.0 branch
    (``KafkaStreamAverageCalculator.java:146-150``). Matches
    ``SUM``/``MIN``/``MAX``/``COUNT(value)`` over an all-NULL group in
    both engines."""
    if not n:
        return {
            "summer": None,
            "counter": 0.0,
            "sumsqr": None,
            "bestmin": None,
            "bestmax": None,
            "mean": None,
            "m2": None,
            "var": 0.0,
        }
    summer = float(sum_c) / 100.0
    sumsqr = float(sumsq_c2) / 10000.0
    mean = summer / float(n)
    m2 = sumsqr - summer * summer / float(n)
    return {
        "summer": summer,
        "counter": float(n),
        "sumsqr": sumsqr,
        "bestmin": bestmin,
        "bestmax": bestmax,
        "mean": mean,
        "m2": m2,
        "var": m2 / float(n - 1) if n > 1 else 0.0,
    }


def _update(
    key: tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key update: fold the batch into the positional state, emit
    the refreshed statistics row (reference update loop
    ``KafkaStreamAverageCalculator.java:134-150``, declaratively
    re-derived from exact integer accumulators)."""
    if state.exists:
        sum_c, n, ssq_hi, ssq_lo, bestmin, bestmax, _ = state.get
        sumsq_c2 = ssq_hi * SUMSQ_LIMB + ssq_lo
    else:
        sum_c, n, sumsq_c2 = 0, 0, 0
        bestmin, bestmax = float("inf"), float("-inf")  # B1 fixed

    last_delta = 0.0
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        if len(vals) == 0:
            continue
        cents = (vals * 100.0).round().astype("int64")
        # Welford delta of the last element processed, against the
        # running mean *before* that element (reference :138) — parity
        # telemetry only, order-dependent by nature.
        prev_sum_c = sum_c + int(cents.iloc[:-1].sum())
        prev_n = n + len(cents) - 1
        prev_mean = (prev_sum_c / 100.0) / prev_n if prev_n else 0.0
        last_delta = float(vals.iloc[-1]) - prev_mean
        sum_c += int(cents.sum())
        sumsq_c2 += _sumsq_exact(cents)
        n += len(cents)
        bestmin = min(bestmin, float(vals.min()))
        bestmax = max(bestmax, float(vals.max()))

    state.update((sum_c, n, *divmod(sumsq_c2, SUMSQ_LIMB), bestmin, bestmax, last_delta))

    yield pd.DataFrame(
        [
            {
                "readTag_id": key[0],
                **_stats_fields(sum_c, n, sumsq_c2, bestmin, bestmax),
                "delta": last_delta,
            }
        ]
    )


def exact_state_stats(events: DataFrame, key: str = "event_type") -> DataFrame:
    """Wire the positional-state op over a (streaming) events frame."""
    return (
        events.select(F.col(key).cast("string").alias("readTag_id"), "value")
        .groupBy("readTag_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _final_emission(mem: DataFrame) -> DataFrame:
    """Each key's final emission (highest counter: data emissions
    strictly grow it) from an update-mode sink, without ``delta``
    (order-dependent parity telemetry, bug B4 — see module docstring)."""
    from pyspark.sql import Window

    w = Window.partitionBy("readTag_id").orderBy(F.col("counter").desc())
    return (
        mem.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "delta")
    )


def _exact_state_final(events: DataFrame) -> DataFrame:
    """Run the exact-parity stateful op over an events stream to
    completion; keep each key's final emission."""
    from .pipelines import _run_to_memory

    out = exact_state_stats(events, "event_type")
    return _final_emission(_run_to_memory(out, output_mode="update"))


def stream_stats_exact_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: the exact-parity stateful op over the
    fixture stream, each key's final emission. Oracle-checked fields
    are the deterministic ones."""
    from .pipelines import events_file_stream

    return _exact_state_final(
        events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )


STREAM_STATS_EXACT_SQL = """
SELECT
  CAST(event_type AS VARCHAR) AS readTag_id,
  CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 100.0 AS summer,
  CAST(COUNT(value) AS DOUBLE) AS counter,
  CAST(CAST(SUM(CAST(round(value*100) AS DECIMAL(18,0)) * CAST(round(value*100) AS DECIMAL(18,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sumsqr,
  MIN(value) AS bestmin,
  MAX(value) AS bestmax,
  (CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 100.0)
    / CAST(COUNT(value) AS DOUBLE) AS mean,
  CAST(CAST(SUM(CAST(round(value*100) AS DECIMAL(18,0)) * CAST(round(value*100) AS DECIMAL(18,0))) AS VARCHAR) AS DOUBLE) / 10000.0
    - (CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 100.0)
      * (CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 100.0)
      / CAST(COUNT(value) AS DOUBLE) AS m2,
  CASE WHEN COUNT(value) > 1 THEN
    (CAST(CAST(SUM(CAST(round(value*100) AS DECIMAL(18,0)) * CAST(round(value*100) AS DECIMAL(18,0))) AS VARCHAR) AS DOUBLE) / 10000.0
      - (CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 100.0)
        * (CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 100.0)
        / CAST(COUNT(value) AS DOUBLE))
    / CAST(COUNT(value) - 1 AS DOUBLE)
  ELSE 0.0 END AS var
FROM events
GROUP BY 1
"""


# ------------------------------------------------ transformWithState --

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)


class ExactStatsProcessor(StatefulProcessor):
    """Spark 4.x ``transformWithStateInPandas`` form of the exact
    positional-state op — the successor API to
    ``applyInPandasWithState`` with typed state handles (and, when
    needed, timers for B3-style heartbeats and TTL for state eviction;
    neither is enabled here because the adopted semantics emit only
    on-update, SURVEY.md B3).

    Same integer-cents state algebra as ``_update`` above; the state
    lives in a ValueState handle the store serializes per key.

    Requires python-protobuf at runtime (the TWS Python worker speaks a
    protobuf channel). ``registry.py`` registers ``stream_stats_tws``
    unconditionally: where protobuf does not import, the op runs the
    ``applyInPandasWithState`` form instead (see ``stream_stats_tws``).
    """

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "acc",
            "sum_cents LONG, n LONG, sumsq_hi LONG, sumsq_lo LONG, "
            "bestmin DOUBLE, bestmax DOUBLE",
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        if self._state.exists():
            sum_c, n, ssq_hi, ssq_lo, bestmin, bestmax = self._state.get()
            sumsq_c2 = ssq_hi * SUMSQ_LIMB + ssq_lo
        else:
            sum_c, n, sumsq_c2 = 0, 0, 0
            bestmin, bestmax = float("inf"), float("-inf")
        for pdf in rows:
            vals = pdf["value"].dropna()
            if len(vals) == 0:
                continue
            cents = (vals * 100.0).round().astype("int64")
            sum_c += int(cents.sum())
            sumsq_c2 += _sumsq_exact(cents)
            n += len(cents)
            bestmin = min(bestmin, float(vals.min()))
            bestmax = max(bestmax, float(vals.max()))
        self._state.update(
            (sum_c, n, *divmod(sumsq_c2, SUMSQ_LIMB), bestmin, bestmax)
        )
        yield pd.DataFrame(
            [
                {
                    "readTag_id": key[0],
                    **_stats_fields(sum_c, n, sumsq_c2, bestmin, bestmax),
                }
            ]
        )

    def close(self) -> None:
        pass


TWS_OUTPUT_SCHEMA = T.StructType(
    [f for f in OUTPUT_SCHEMA.fields if f.name != "delta"]
)


def _has_protobuf() -> bool:
    """The TWS Python worker speaks a protobuf channel at runtime; the
    API is importable without it but queries fail at execution."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_stats_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query for the transformWithStateInPandas op: run
    over the fixture stream, keep each key's final (highest-count)
    emission. Oracle identical to the applyInPandasWithState form.

    Registered unconditionally: where python-protobuf is unavailable
    (the TWS worker's wire dependency), this falls back internally to
    the ``applyInPandasWithState`` twin (``exact_state_stats``) with
    the same state algebra and the same 9-column output, so the query
    never silently drops out of ``queries()`` and always earns a
    CORRECTNESS row. On protobuf-bearing hosts the true TWS path runs;
    ``tests/test_streaming.py`` asserts the two paths agree wherever
    both are runnable."""
    from .pipelines import _run_to_memory, events_file_stream

    events = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    if _has_protobuf():
        out = (
            events.select(
                F.col("event_type").cast("string").alias("readTag_id"), "value"
            )
            .groupBy("readTag_id")
            .transformWithStateInPandas(
                ExactStatsProcessor(),
                outputStructType=TWS_OUTPUT_SCHEMA,
                outputMode="Update",
                timeMode="None",
            )
        )
    else:
        out = exact_state_stats(events, "event_type")
    return _final_emission(_run_to_memory(out, output_mode="update"))


STREAM_STATS_TWS_SQL = STREAM_STATS_EXACT_SQL


# ----------------------------------------------------- heartbeat (B3) --

def _update_heartbeat(
    key: tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """B3-compatible variant: like :func:`_update`, but with a
    processing-time timeout armed so keys ABSENT from a batch still
    re-emit their current statistics — the reference's
    emit-every-key-every-batch behavior (``updateStateByKey`` invokes
    the update fn for every known key, ``KafkaStreamAverageCalculator
    .java:155-168``), reproduced as an explicit, opt-in timer rather
    than an accident of the API. Timeout fires → emit from state,
    re-arm; fresh data → fold + emit + re-arm."""
    if state.hasTimedOut:
        sum_c, n, ssq_hi, ssq_lo, bestmin, bestmax, _ = state.get
        sumsq_c2 = ssq_hi * SUMSQ_LIMB + ssq_lo
        state.setTimeoutDuration(1000)
        yield pd.DataFrame(
            [
                {
                    "readTag_id": key[0],
                    **_stats_fields(sum_c, n, sumsq_c2, bestmin, bestmax),
                    "delta": 0.0,  # heartbeat: no new values (B4 empty-update)
                }
            ]
        )
        return
    yield from _update(key, pdfs, state)
    state.setTimeoutDuration(1000)


def exact_state_stats_heartbeat(events: DataFrame, key: str = "event_type") -> DataFrame:
    """Heartbeat wiring: same output schema, ProcessingTimeTimeout armed."""
    return (
        events.select(F.col(key).cast("string").alias("readTag_id"), "value")
        .groupBy("readTag_id")
        .applyInPandasWithState(
            _update_heartbeat,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stream_stats_heartbeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing B3 heartbeat query (the one reference semantic
    previously absent from ``queries()``): run the heartbeat op over
    the fixture stream under a processing-time trigger, wait until
    every key has re-emitted at least once from an *idle* batch (timer
    fire, ``KafkaStreamAverageCalculator.java:155-168`` semantics),
    then return each key's final statistics. Deterministic because a
    heartbeat re-emission carries exactly the key's current stats —
    the final row per key equals the batch answer regardless of how
    many heartbeats fired, so the batch oracle applies unchanged
    (``delta``, the order-dependent telemetry, is excluded)."""
    from ..sources.tables import load_table
    from .pipelines import _run_to_memory, events_file_stream

    events = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))

    # Per-key EXPECTED FINAL COUNTER through the SAME ingest contract
    # as the stream it polls (a type living only on clock-invalid rows
    # would otherwise spin the poll to its TimeoutError — round-8).
    # The expected counter, not just the key census: the old
    # ">= 2 emissions per key" stop condition was satisfied after two
    # DATA batches when the fixture arrives as several micro-batches,
    # stopping the query with partial sums (round-10 batch-boundary
    # sweep: 5-chunk replay returned 2/5 of the corpus). Waiting for
    # two emissions AT the final counter proves both full ingestion
    # and a genuine idle-timer re-emission: data emissions strictly
    # increase the counter, so a second row at the final value can
    # only come from a heartbeat.
    expected = {
        r["readTag_id"]: r["exp_counter"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").cast("string").alias("readTag_id"))
        .agg(F.count("value").cast("double").alias("exp_counter"))
        .collect()
    }

    def confirmed(sink: DataFrame) -> bool:
        # No processAllAvailable here: the timers make every idle
        # micro-batch emit rows, so "all available" never drains —
        # stop once every key has its data row plus at least one
        # heartbeat re-emission at its final counter.
        per_key = sink.groupBy("readTag_id", "counter").count().collect()
        done = {
            r["readTag_id"]
            for r in per_key
            if expected.get(r["readTag_id"]) == r["counter"]
            and r["count"] >= 2
        }
        return len(done) == len(expected)

    return _final_emission(
        _run_to_memory(
            exact_state_stats_heartbeat(events, "event_type"),
            output_mode="update",
            trigger={"processingTime": "1 second"},
            until=confirmed,
        )
    )


STREAM_STATS_HEARTBEAT_SQL = STREAM_STATS_EXACT_SQL


# ------------------------------------- custom sessionizer (stateful) --

SESS_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap

SESS_STATE_SCHEMA = (
    "start_us LONG, last_us LONG, n LONG, sum_c LONG, last_type STRING,"
    " seq LONG"
)

SESS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_seq", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)


def _sessionize_update(
    key: tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user session state machine with CUSTOM close semantics the
    built-in ``session_window`` cannot express: a session ends on a
    30-minute inactivity gap OR immediately after a ``purchase`` event
    (cart-complete). Vectorized: breaks are a boolean vector + cumsum
    session ids, aggregation is one pandas groupby — per-batch Python
    cost is O(batch), not O(row)-interpreted.

    Emits every session the batch touched; the still-open session is a
    provisional row a later batch may supersede (same session_seq,
    higher n) — the driver-facing query keeps the final emission per
    (user, seq) exactly like ``stream_stats_exact_state`` keeps the
    final per-key row. ``session_seq`` is the per-user session index
    (the break-count carried in state): it identifies a session even
    when every event shares one timestamp, where (user, start) does
    not — two purchase-split sessions at the same instant share start
    AND end, and the round-10 TIES sweep caught the serving table
    collapsing them to one arbitrarily-picked row."""
    import numpy as np

    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["us", "event_id"]).reset_index(drop=True)

    if state.exists:
        start_us, last_us, n0, sum_c0, last_type, seq0 = state.get
        prev_us = np.concatenate([[last_us], batch["us"].to_numpy()[:-1]])
        prev_type = np.concatenate(
            [[last_type], batch["event_type"].to_numpy()[:-1]]
        )
    else:
        start_us = last_us = n0 = sum_c0 = None
        seq0 = 0
        prev_us = np.concatenate([[-1], batch["us"].to_numpy()[:-1]])
        prev_type = np.concatenate([[""], batch["event_type"].to_numpy()[:-1]])
        prev_us[0] = batch["us"].iloc[0]  # first row never "breaks"

    gap_break = batch["us"].to_numpy() - prev_us > SESS_GAP_US
    purchase_break = prev_type == "purchase"
    brk = gap_break | purchase_break
    if state.exists:
        pass  # first row may continue or break the carried session
    else:
        brk[0] = False
    sess_id = np.cumsum(brk)

    g = batch.assign(sess=sess_id).groupby("sess")
    # sum_c pairs the NaN-skipping sum with a non-null count so an
    # all-missing-value session emits a NULL sum_cents exactly like the
    # oracle's SUM(c) (pandas' bare sum() renders it 0 — round-8
    # NaN/Inf sweep)
    agg = g.agg(
        start=("us", "min"),
        end=("us", "max"),
        n=("us", "size"),
        sum_c=("c", "sum"),
        n_c=("c", "count"),
    ).sort_index()

    out = []
    uid = key[0]
    carried_open = state.exists
    for sess, row in agg.iterrows():
        bsc = int(row["sum_c"]) if int(row["n_c"]) > 0 else None
        # session identity: the carried open session keeps its seq;
        # every break increments it (sess is the batch-local cumsum,
        # so seq0 + sess is the global per-user index either way)
        seq = int(seq0) + int(sess)
        if sess == 0 and carried_open:
            # continuation of the carried session
            s, e = int(start_us), int(row["end"])
            n = int(n0 + row["n"])
            parts = [p for p in (sum_c0, bsc) if p is not None]
            sc = sum(parts) if parts else None
        else:
            s, e = int(row["start"]), int(row["end"])
            n, sc = int(row["n"]), bsc
        out.append((uid, seq, s, e, n, sc))

    # persist the (possibly new) open session; carry a NULL tail type
    # as NULL — str() on it minted the literal 'None' (same class as
    # the round-8 _trans_update fix; ADVICE r8). pd.isna, not manual
    # None/NaN checks: under Arrow-backed/nullable dtypes the missing
    # value arrives as pd.NA, which is neither None nor NaN and for
    # which even `x != x` is pd.NA rather than True (ADVICE r9). The
    # isinstance(str) guard keeps pd.isna scalar — event_type is a
    # string column, so every non-string cell is exactly the NA family.
    last_row = batch.iloc[-1]
    tail_type = last_row["event_type"]
    if not isinstance(tail_type, str) and pd.isna(tail_type):
        tail_type = None
    final = out[-1]  # (uid, seq, start, end, n, sum_c)
    state.update(
        (final[2], int(last_row["us"]), final[4], final[5], tail_type,
         final[1])
    )
    yield pd.DataFrame(
        out,
        columns=[
            "user_id",
            "session_seq",
            "session_start_us",
            "session_end_us",
            "n_events",
            "sum_cents",
        ],
    )


def sessionize_custom(events: DataFrame) -> DataFrame:
    """Wire the custom sessionizer over a (streaming) events frame
    already projected to (user_id, us, event_id, event_type, c)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_update,
        outputStructType=SESS_OUTPUT_SCHEMA,
        stateStructType=SESS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_sessionize_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: custom-rule sessionization (30-min gap OR
    purchase-terminated) of the fixture replay; final emission per
    (user, session_seq) wins — seq, not start: same-instant
    purchase-split sessions share start AND end, so only the carried
    break-count identifies them (round-10 TIES sweep). The fixture
    stages as one chronological batch here; ``tests/test_streaming.py``
    drills the multi-batch carry (sessions spanning micro-batch
    boundaries merge, purchase carried in state splits the next
    batch's first row, seq continues across the boundary)."""
    from .pipelines import _run_to_memory, events_file_stream
    from ..sources.tables import ts_micros

    ev = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    proj = ev.select(
        "user_id",
        ts_micros().alias("us"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    mem = _run_to_memory(sessionize_custom(proj), output_mode="update")
    from pyspark.sql import Window

    # later emissions of the same session strictly grow n_events, so
    # max-n per (user, seq) IS the final state; an n tie can only be
    # the same emission content re-delivered (identical row)
    w = Window.partitionBy("user_id", "session_seq").orderBy(
        F.col("n_events").desc()
    )
    return (
        mem.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


STREAM_SESSIONIZE_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
),
s AS (
  SELECT *,
         CASE WHEN us - lag(us) OVER w > {SESS_GAP_US}
                OR lag(event_type) OVER w = 'purchase'
              THEN 1 ELSE 0 END AS brk
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
g AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM s
)
-- sess IS session_seq: the per-user cumulative break count in
-- (us, event_id) order — exactly the index the kernel carries in
-- state, so one row per (user, seq) by construction. No QUALIFY
-- needed: replay-duplicated purchases mint sessions with DISTINCT
-- seqs (both emitted, both engines), and same-instant purchase-split
-- sessions stay distinct rows (round-10 TIES sweep; formerly the
-- (user, start) serving key collapsed them arbitrarily).
SELECT user_id, CAST(sess AS BIGINT) AS session_seq,
       MIN(us) AS session_start_us, MAX(us) AS session_end_us,
       COUNT(*) AS n_events, CAST(SUM(c) AS BIGINT) AS sum_cents
FROM g GROUP BY user_id, sess
"""


# ------------------------------------------- RocksDB provider variant --

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def stream_stats_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship exact-state op under the RocksDB state store
    provider — the 100 TB configuration: per-key state lives off-heap
    in RocksDB with changelog checkpointing, so key cardinality is
    bounded by disk, not executor memory. Same state algebra, same
    oracle as ``stream_stats_exact_state``; what this query registers
    is that the OPERATOR IS PROVIDER-AGNOSTIC — the provider is set on
    this op's own ``op_session`` child, and the emitted rows are
    identical to the default-provider run.

    State partitions are sized to the keyspace (4 partitions for a
    handful of event_type keys) rather than the core count: RocksDB
    pays a per-store-instance open/snapshot/commit cost (~0.3 s each),
    so 32 instances for 6 keys was pure provider-init overhead — 9.3 s
    at sf0.01 vs ~3 s with right-sized state partitions, identical
    rows. On a real cluster the same rule applies: stateful-agg shuffle
    partitions scale with key cardinality and state size, not cores.
    Both are set before the query starts; they are fixed at a
    checkpoint's first run."""
    from .pipelines import events_file_stream

    child = op_session(spark)
    child.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER)
    child.conf.set("spark.sql.shuffle.partitions", "4")
    events = events_file_stream(child, os.path.join(sf_dir, "events.parquet"))
    return _exact_state_final(events)


STREAM_STATS_ROCKSDB_SQL = STREAM_STATS_EXACT_SQL


# ------------------------------------- streaming last-touch attribution --

ATTR_STATE_SCHEMA = "last_click_us LONG, last_click_id LONG"

ATTR_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("purchase_id", T.LongType()),
        T.StructField("purchase_us", T.LongType()),
        T.StructField("touch_id", T.LongType()),
        T.StructField("gap_us", T.LongType()),
    ]
)

# the ONE lookback constant, shared with the batch operator's oracle
from ..operators.analytics import ATTR_WINDOW_US as _ATTR_WINDOW_US  # noqa: E402


def _attr_update(
    key: tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming form of ``analytics.attribution_last_touch``: the
    per-user state is just (last click us, id); each purchase is
    attributed AT ARRIVAL to the most recent prior click within the
    7-day window — so attribution latency is one micro-batch, not one
    nightly batch job. Vectorized: clicks forward-fill within the
    sorted batch (seeded from state), purchases read the fill."""
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["us", "event_id"]).reset_index(drop=True)

    last_us, last_id = state.get if state.exists else (None, None)
    is_click = batch["event_type"] == "click"
    # previous-click carry: shift so a click attributes only LATER rows.
    # Nullable Int64 throughout — a float64 NaN-carry would silently
    # corrupt ids above 2^53 at production id ranges.
    c_us = batch["us"].astype("Int64").where(is_click).shift(1).ffill()
    c_id = batch["event_id"].astype("Int64").where(is_click).shift(1).ffill()
    if last_us is not None:
        c_us = c_us.fillna(last_us)
        c_id = c_id.fillna(last_id)

    purch = batch[batch["event_type"] == "purchase"]
    if len(purch):
        t_us = c_us[purch.index]
        t_id = c_id[purch.index]
        gap = purch["us"] - t_us
        ok = t_us.notna() & (gap <= _ATTR_WINDOW_US)
        out = pd.DataFrame(
            {
                "user_id": key[0],
                "purchase_id": purch["event_id"].astype("int64"),
                "purchase_us": purch["us"].astype("int64"),
                "touch_id": t_id.where(ok).astype("Int64"),
                "gap_us": gap.where(ok).astype("Int64"),
            }
        )
        yield out

    clicks = batch[is_click]
    if len(clicks):
        last_row = clicks.iloc[-1]
        state.update((int(last_row["us"]), int(last_row["event_id"])))
    elif state.exists:
        state.update((int(last_us), int(last_id)))


def stream_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: chronological replay of the fixture through
    the stateful attributor; same oracle as the batch op
    (``ATTRIBUTION_SQL``) because a chronological replay must produce
    identical attributions — the batch/stream parity that makes the
    streaming form trustworthy. Multi-batch state carry is drilled in
    ``tests/test_streaming.py`` (click in batch 1 attributes a purchase
    in batch 2)."""
    from .pipelines import _run_to_memory, events_file_stream
    from ..sources.tables import ts_micros

    ev = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
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
    return _run_to_memory(out, output_mode="append")


def _stream_attr_sql() -> str:
    from ..operators.analytics import ATTRIBUTION_SQL

    return ATTRIBUTION_SQL


STREAM_ATTRIBUTION_SQL = _stream_attr_sql()


# ------------------------------------------- streaming pattern match --

SEQP_STATE_SCHEMA = (
    "u1 LONG, e1 LONG, t1 STRING, u2 LONG, e2 LONG, t2 STRING"
)

SEQP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_matches", T.LongType()),
        T.StructField("min_span_us", T.LongType()),
    ]
)

from ..operators.analytics import SEQ_GAP_US  # noqa: E402


def _seqp_update(
    key: tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming form of ``analytics.seq_pattern_triples``: strict-
    contiguity view->click->purchase matching with the last TWO events
    carried per user across micro-batches — the minimal state of a
    length-3 pattern (a k-step pattern carries k-1 rows, not the whole
    history). A triple is counted in the batch contributing its LAST
    element, so every match is emitted exactly once across the stream.
    Emits one per-batch partial (n_matches, min span) per user; the
    serving fold sums/mins the partials."""
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["us", "event_id"]).reset_index(drop=True)

    carried = 0
    if state.exists:
        u1, e1, t1, u2, e2, t2 = state.get
        rows = []
        if u1 is not None:
            rows.append((u1, e1, t1))
        if u2 is not None:
            rows.append((u2, e2, t2))
        carried = len(rows)
        if carried:
            head = pd.DataFrame(
                rows, columns=["us", "event_id", "event_type"]
            )
            batch = pd.concat(
                [head, batch[["us", "event_id", "event_type"]]],
                ignore_index=True,
            )
    ev_t = batch["event_type"].to_numpy()
    ev_u = batch["us"].to_numpy()
    n = len(batch)
    n_matches = 0
    min_span = None
    for i in range(n - 2):
        if i + 2 < carried:
            continue  # fully inside prior batches: already counted
        if (
            ev_t[i] == "view"
            and ev_t[i + 1] == "click"
            and ev_t[i + 2] == "purchase"
            and ev_u[i + 1] - ev_u[i] <= SEQ_GAP_US
            and ev_u[i + 2] - ev_u[i + 1] <= SEQ_GAP_US
        ):
            n_matches += 1
            span = int(ev_u[i + 2] - ev_u[i])
            min_span = span if min_span is None else min(min_span, span)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_matches": [n_matches],
            "min_span_us": pd.array([min_span], dtype="Int64"),
        }
    )
    tail = batch.iloc[-2:]
    vals: list = []
    for _, r in tail.iterrows():
        vals.extend([int(r["us"]), int(r["event_id"]), str(r["event_type"])])
    while len(vals) < 6:
        vals = [None, None, None] + vals
    state.update(tuple(vals))


def stream_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: chronological replay through the stateful
    matcher, then a sum/min fold of the per-batch partials — same
    oracle as the batch ``seq_pattern_triples`` (replay parity). The
    cross-batch carry (a view+click at the end of batch 1 completing
    with a purchase at the start of batch 2) is drilled in
    tests/test_streaming.py."""
    from .pipelines import _run_to_memory, events_file_stream
    from ..sources.tables import ts_micros

    ev = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
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
    return mem.groupBy("user_id").agg(
        F.sum("n_matches").alias("n_matches"),
        F.min("min_span_us").alias("min_span_us"),
    )


def _stream_seqp_sql() -> str:
    from ..operators.analytics import SEQ_PATTERN_SQL

    return SEQ_PATTERN_SQL


STREAM_SEQP_SQL = _stream_seqp_sql()


# ------------------------------------------------ streaming CUSUM --

# seen: 0/1 — whether any REAL (non-NULL) measurement has arrived for
# this key yet. The batch window identity gives s = NULL (excluded
# from the max census) for every row BEFORE a key's first real
# measurement, so the kernel must not let those carried-zero rows
# contribute a spurious max_excursion = 0 (round-9 zero-variance
# sweep: an all-NULL key reported 0 where the oracle has NULL).
CUSUM_STATE_SCHEMA = "cum LONG, runmin LONG, seen LONG"

CUSUM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_alarms", T.LongType()),
        T.StructField("max_excursion", T.LongType()),
        T.StructField("first_alarm_us", T.LongType()),
    ]
)

from ..operators.analytics import CUSUM_H_MICRO, CUSUM_K_MICRO  # noqa: E402


def _cusum_update(
    key: tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming form of ``analytics.ts_cusum_alarm``: the one-sided
    Page CUSUM carried across micro-batches as exactly TWO integers
    per key — the running sum of (x−k) and the running minimum of
    that sum (clamped at 0) — since s_t = cum_t − min(0, min prefix
    cum). Integer micro-units end-to-end, so the streaming path is
    bit-identical to the batch window identity. Emits one per-batch
    partial; the serving fold sums counts, maxes the excursion, and
    mins the first-alarm time (each alarm row is seen exactly once,
    in the batch whose event crosses h)."""
    import numpy as np

    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["us", "event_id"]).reset_index(drop=True)
    prev_cum, prev_runmin, prev_seen = (0, 0, 0)
    if state.exists:
        prev_cum, prev_runmin, prev_seen = state.get
    v = batch["value"].to_numpy(dtype=float) * 1_000_000
    # Spark/DuckDB round() is half-AWAY-from-zero; np.rint is half-even.
    # A missing measurement (NULL value -> NaN here) contributes d = 0:
    # the batch identity's window SUM skips NULLs, so the NULL row
    # carries the previous cum/runmin and still emits a path row —
    # casting NaN to int64 instead produced platform garbage near
    # INT64_MAX (round-8 NaN/Inf sweep).
    nan_mask = np.isnan(v)
    d = np.where(
        nan_mask,
        0.0,
        np.sign(v) * np.floor(np.abs(v) + 0.5) - CUSUM_K_MICRO,
    ).astype(np.int64)
    cums = prev_cum + np.cumsum(d)
    runmins = np.minimum(prev_runmin, np.minimum.accumulate(cums))
    s = cums - runmins
    # rows before the key's first real measurement have s = NULL in the
    # batch identity (cum over an all-NULL prefix) — exclude them from
    # the max census; once seen, carried rows participate like the
    # identity's carried (non-NULL) s
    if prev_seen:
        valid = np.ones(len(s), dtype=bool)
    elif (~nan_mask).any():
        valid = np.arange(len(s)) >= int(np.argmax(~nan_mask))
    else:
        valid = np.zeros(len(s), dtype=bool)
    alarms = (s > CUSUM_H_MICRO) & valid
    first_idx = int(np.argmax(alarms)) if alarms.any() else None
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_events": [len(batch)],
            "n_alarms": [int(alarms.sum())],
            "max_excursion": pd.array(
                [int(s[valid].max()) if valid.any() else None],
                dtype="Int64",
            ),
            "first_alarm_us": pd.array(
                [None if first_idx is None
                 else int(batch["us"].iloc[first_idx])],
                dtype="Int64",
            ),
        }
    )
    state.update(
        (int(cums[-1]), int(min(runmins[-1], 0)), int(prev_seen or valid.any()))
    )


def stream_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: chronological replay through the stateful
    CUSUM, then the partial fold — same oracle as the batch
    ``ts_cusum_alarm`` (the ``TS_CUSUM_SQL`` window identity), proving
    the 2-integer state form computes the identical alarm path. The
    cross-batch carry (an excursion climbing over a batch boundary) is
    drilled in tests/test_streaming.py."""
    from .pipelines import _run_to_memory, events_file_stream
    from ..sources.tables import ts_micros

    ev = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
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
    return mem.groupBy("event_type").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("n_alarms").alias("n_alarms"),
        F.max("max_excursion").alias("max_excursion"),
        F.min("first_alarm_us").alias("first_alarm_us"),
    )


def _stream_cusum_sql() -> str:
    from ..operators.analytics import TS_CUSUM_SQL

    return TS_CUSUM_SQL


STREAM_CUSUM_SQL = _stream_cusum_sql()


# ---------------------------------------- streaming transitions --

TRANS_STATE_SCHEMA = "us LONG, event_id LONG, event_type STRING"

TRANS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("from_type", T.StringType()),
        T.StructField("to_type", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def _trans_update(
    key: tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming form of ``analytics.seq_transition_matrix``: the
    per-user LAST event is the entire carried state (a first-order
    chain needs exactly one row of memory), prepended to each batch so
    the boundary transition is counted in the batch holding its
    SECOND event — each adjacent pair counted exactly once."""
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["us", "event_id"]).reset_index(drop=True)
    # NULL-typed events stay NULL (pandas may render them NaN): the
    # shared LEAD oracle counts transitions OUT of a NULL type
    # (from_type = NULL) but cannot count transitions INTO one —
    # `WHERE to_type IS NOT NULL` both ends the sequence and drops
    # NULL destinations — so the chain matcher mirrors exactly that:
    # skip pairs whose destination is NULL, keep NULL origins, and
    # carry a NULL tail type as NULL (str() on it minted the literal
    # string 'None' before — round-8 NULL-keys sweep).
    seq = [
        None if t is None or (isinstance(t, float) and t != t) else t
        for t in batch["event_type"]
    ]
    if state.exists:
        _, _, last_t = state.get
        seq = [last_t] + seq
    counts: dict = {}
    for a, b in zip(seq, seq[1:]):
        if b is None:
            continue
        counts[(a, b)] = counts.get((a, b), 0) + 1
    if counts:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(counts),
                "from_type": [a for a, _ in counts],
                "to_type": [b for _, b in counts],
                "n": list(counts.values()),
            }
        )
    tail = batch.iloc[-1]
    tail_t = seq[-1]
    state.update((int(tail["us"]), int(tail["event_id"]), tail_t))


def stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: replay through the 1-row-state matcher,
    sum the per-batch partial counts across users, then attach row
    totals and conditional ppm — same oracle as the batch
    ``seq_transition_matrix`` (replay parity). Boundary-transition
    carry is drilled in tests/test_streaming.py."""
    from .pipelines import _run_to_memory, events_file_stream
    from ..operators.analytics import SEQ_TRANSITION_SQL  # noqa: F401
    from ..sources.tables import ts_micros

    ev = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
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
    counts = mem.groupBy("from_type", "to_type").agg(
        F.sum("n").alias("n_transitions")
    )
    from pyspark.sql import Window as W

    row_tot = F.sum("n_transitions").over(W.partitionBy("from_type"))
    return counts.withColumn("row_total", row_tot).select(
        "from_type",
        "to_type",
        "n_transitions",
        "row_total",
        F.expr("(n_transitions * 1000000) DIV row_total").alias("p_ppm"),
    )


def _stream_trans_sql() -> str:
    from ..operators.analytics import SEQ_TRANSITION_SQL

    return SEQ_TRANSITION_SQL


STREAM_TRANS_SQL = _stream_trans_sql()


# ------------------------------------------ streaming new users --

NEWU_STATE_SCHEMA = "first_day LONG"

NEWU_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("day", T.LongType()),
        T.StructField("is_new", T.LongType()),
    ]
)

_NEWU_DAY_US = 86_400_000_000


def _newu_update(
    key: tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming form of ``analytics.ts_cumulative_users``: the
    entire per-user state is ONE integer (first-seen day). A user is
    "new" on the earliest day of their first batch; every later
    (user, day) appearance emits is_new=0 — so the day-grain serve
    fold reproduces the batch growth-accounting table exactly."""
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    days = sorted({int(us) // _NEWU_DAY_US for us in batch["us"]})
    known = state.exists
    first_day = int(state.get[0]) if known else days[0]
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(days),
            "day": days,
            "is_new": [
                1 if (not known and d == days[0]) else 0 for d in days
            ],
        }
    )
    state.update((min(first_day, days[0]),))


def stream_new_user_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: replay through the first-seen tracker,
    then the day-grain fold (active/new/returning/cumulative) — same
    oracle as the batch ``ts_cumulative_users``. The first-batch/
    later-batch new-user split is drilled in tests/test_streaming.py."""
    from .pipelines import _run_to_memory, events_file_stream
    from ..sources.tables import ts_micros

    ev = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    proj = ev.select("user_id", ts_micros().alias("us"))
    out = proj.groupBy("user_id").applyInPandasWithState(
        _newu_update,
        outputStructType=NEWU_OUTPUT_SCHEMA,
        stateStructType=NEWU_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = _run_to_memory(out, output_mode="append")
    # a (user, day) pair may appear in several batches — collapse, and
    # OR the is_new flag (it fires in exactly one batch)
    ud = mem.groupBy("user_id", "day").agg(F.max("is_new").alias("is_new"))
    daily = ud.groupBy("day").agg(
        F.count("*").alias("n_active"),
        F.sum("is_new").alias("n_new"),
    )
    from pyspark.sql import Window as W

    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "day",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(w).alias("cum_users"),
    )


def _stream_newu_sql() -> str:
    from ..operators.analytics import TS_CUMUSERS_SQL

    return TS_CUMUSERS_SQL


STREAM_NEWU_SQL = _stream_newu_sql()


# ------------------------------------------- streaming user 360 --

U360_STATE_SCHEMA = (
    "n_events LONG, n_sessions LONG, n_purchases LONG, ltv_cents LONG, "
    "first_us LONG, last_us LONG, last_day LONG, n_active_days LONG"
)

U360_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_purchases", T.LongType()),
        T.StructField("ltv_cents", T.LongType()),
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_active_days", T.LongType()),
    ]
)

_U360_DAY_US = 86_400_000_000

from ..operators.analytics import SESSION_GAP_US_360  # noqa: E402


def _u360_update(
    key: tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming form of ``analytics.mart_user_360``: eight integers
    of state per user. Sessions and active days are the two
    non-trivially-associative columns; both reduce to one carried
    scalar under CHRONOLOGICAL replay — the previous event time
    (session boundary test) and the previous day (distinct-day test,
    since days arrive non-decreasing per user)."""
    import numpy as np

    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["us", "event_id"]).reset_index(drop=True)
    us = batch["us"].to_numpy(dtype=np.int64)
    # a NULL-value purchase contributes 0 cents, matching the oracle's
    # NULL-skipping SUM(CASE WHEN purchase THEN cents ELSE 0 END) —
    # casting the NaN to int64 instead produced platform garbage near
    # INT64_MIN (round-8 NaN/Inf sweep)
    vraw = batch["value"].to_numpy(dtype=float) * 100
    cents = np.where(
        np.isnan(vraw), 0.0, np.sign(vraw) * np.floor(np.abs(vraw) + 0.5)
    ).astype(np.int64)
    is_buy = (batch["event_type"] == "purchase").to_numpy()
    days = us // _U360_DAY_US
    if state.exists:
        (n_ev, n_se, n_pu, ltv, f_us, l_us, l_day, n_days) = state.get
    else:
        n_ev = n_se = n_pu = ltv = n_days = 0
        f_us = int(us[0])
        l_us = None
        l_day = None
    prev = np.concatenate(([l_us if l_us is not None else -(10**18)], us[:-1]))
    n_se += int((us - prev > SESSION_GAP_US_360).sum())
    prev_day = np.concatenate(
        ([l_day if l_day is not None else -(10**18)], days[:-1])
    )
    n_days += int((days != prev_day).sum())
    n_ev += len(batch)
    n_pu += int(is_buy.sum())
    ltv += int(cents[is_buy].sum())
    l_us = int(us[-1])
    l_day = int(days[-1])
    state.update((n_ev, n_se, n_pu, ltv, f_us, l_us, l_day, n_days))
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "n_events": n_ev,
                "n_sessions": n_se,
                "n_purchases": n_pu,
                "ltv_cents": ltv,
                "first_us": f_us,
                "last_us": l_us,
                "n_active_days": n_days,
            }
        ]
    )


def stream_user_360(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: replay through the 8-int-state mart
    builder, keep each user's LAST snapshot (highest n_events) — same
    oracle as the batch ``mart_user_360``. The session-boundary and
    day-boundary carries are drilled in tests/test_streaming.py."""
    from .pipelines import _run_to_memory, events_file_stream
    from ..sources.tables import ts_micros

    ev = events_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
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
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        mem.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _stream_u360_sql() -> str:
    from ..operators.analytics import MART_USER_360_SQL

    return MART_USER_360_SQL


STREAM_U360_SQL = _stream_u360_sql()
