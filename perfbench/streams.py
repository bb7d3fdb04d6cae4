"""The flagship streaming job and the two phases of ``stats_stream``.

The job is the ``stream_kafka_pipeline`` shape on a file-source
stand-in for Kafka: JSON value lines -> ``from_json`` -> string->double
cast -> ``operators.stats.stat_aggs`` per tag in update mode ->
``streaming.pipelines.kafka_record`` -> ``foreachBatch`` sink. The
aggregate also keeps the newest ``created_us`` per tag, so every
emitted row says which event it is the result of.

* backlog (``drain``): pre-landed 200k-row files over ~100k Zipf tags,
  one file per trigger, for a fixed time. Throughput-bound: JSON parse,
  partial aggregation, shuffle and the update of a large state dominate.
* live (``run_live``): an open-loop feed of 64 uniform tags at a rate
  well below saturation, into a fresh query. Per-batch fixed cost
  (planning, offset log, state-store commit) sets latency.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import numpy as np
from pyspark.sql import functions as F

from spark_streaming_stream_analyzer_spark.operators.stats import stat_aggs
from spark_streaming_stream_analyzer_spark.streaming.pipelines import kafka_record

from feed import RECORD_SCHEMA, Tally, write_backlog

# live phase: the reference deployment shape, well below saturation
LIVE_RATE = 5_000           # events/s
LIVE_PERIOD_S = 0.2         # one file per period
LIVE_TAGS = 64
LIVE_WARMUP_S = 1.5         # events created earlier are not measured
LIVE_WARMUP_BATCHES = 1     # nor is the first live batch
# backlog phase: throughput-bound, large Zipf-keyed state
BACKLOG_ROWS = 200_000      # per file = per trigger
BACKLOG_TAGS = 100_000
BACKLOG_ZIPF = 1.1
BACKLOG_WARMUP_BATCHES = 1
BACKLOG_MIN_BATCHES = 2     # measured, however slow the host
BACKLOG_TIMEOUT_S = 90
BACKLOG_FILES_PER_S = 1.0   # a 200k-row batch takes 1.6-2.5 s on 4 vCPUs

DURATION_KEYS = {
    "addBatch": "streaming.add_batch_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "getBatch": "streaming.get_batch_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "triggerExecution": "streaming.trigger_ms",
    "walCommit": "streaming.wal_commit_ms",
}
STATE_KEYS = {
    "commitTimeMs": "streaming.state.commit_ms",
    "allUpdatesTimeMs": "streaming.state.update_ms",
    "numRowsTotal": "streaming.state.rows_total",
    "memoryUsedBytes": "streaming.state.memory_bytes",
    "numRowsUpdated": "streaming.state.rows_updated",
}


class Sink:
    """``foreachBatch`` body: deliver the batch to the consumer (this
    Python process), which decodes the result records. Per batch it keeps the
    emission time and compact decoded columns; the final state is
    assembled only from committed batches, after the run."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.batches: dict[int, dict] = {}

    def __call__(self, batch_df, batch_id: int) -> None:
        start = time.time()
        rec = F.from_json("value", "counter double, summer double, bestmin double, "
                          "bestmax double, created_us long")
        pdf = batch_df.select(
            F.substring("key", 2, 6).cast("int").alias("tag"), rec.alias("r")
        ).select("tag", "r.*").toPandas()
        emit = time.time()
        self.batches[batch_id] = {
            "start": start, "emit": emit,
            "cols": {c: pdf[c].to_numpy() for c in pdf.columns},
        }
        self.tracer.add("sink.emit", start, emit, batch_id=batch_id, rows=len(pdf))


def stats_query(spark, landing: str, max_files: int | None):
    reader = spark.readStream.format("text")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    parsed = reader.load(landing).select(
        F.from_json("value", RECORD_SCHEMA).alias("j")
    ).select(
        F.col("j.readTag_id").alias("readTag_id"),
        F.col("j.readValue").cast("double").alias("v"),
        F.col("j.created_us").alias("created_us"),
    )
    stats = parsed.groupBy("readTag_id").agg(
        *stat_aggs("v"), F.max("created_us").alias("created_us")
    )
    return kafka_record(stats)


def start(df, sink: Sink, ckpt: str, **trigger):
    writer = (df.writeStream.outputMode("update").foreachBatch(sink)
              .option("checkpointLocation", ckpt))
    return (writer.trigger(**trigger) if trigger else writer).start()


def committed(ckpt: str) -> dict[int, list[str]]:
    """Batch id -> file names, for every batch in the commit log. The
    source log is read whole: every 10th batch it is compacted into a
    ``.compact`` file that carries all earlier entries."""
    done = {int(os.path.basename(c)) for c in glob.glob(os.path.join(ckpt, "commits", "[0-9]*"))}
    out: dict[int, set] = {b: set() for b in done}
    for log in glob.glob(os.path.join(ckpt, "sources", "0", "[0-9]*")):
        with open(log) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                if e["batchId"] in done:
                    out[e["batchId"]].add(os.path.basename(e["path"]))
    return {b: sorted(v) for b, v in out.items()}


def check_state(sink: Sink, commits: dict, tally: Tally) -> tuple[int, int]:
    """Compare the last emitted record of every tag, over committed
    batches, with the generator's exact tally. Returns (tags checked,
    tags wrong); a tag seen by the generator but never emitted is wrong."""
    n = len(tally.count)
    got = {k: np.full(n, np.nan) for k in ("counter", "summer", "bestmin", "bestmax")}
    for b in sorted(commits):
        if b not in sink.batches:
            continue
        cols = sink.batches[b]["cols"]
        for k in got:
            got[k][cols["tag"]] = cols[k]
    seen = tally.count > 0
    want = {
        "counter": tally.count.astype(np.float64),
        "summer": tally.sum.astype(np.float64) / 100.0,
        "bestmin": tally.min.astype(np.float64) / 100.0,
        "bestmax": tally.max.astype(np.float64) / 100.0,
    }
    bad = np.zeros(n, bool)
    for k in got:
        bad |= seen & ~(got[k] == want[k])
    # a tag emitted without any generated event is wrong too
    bad |= ~seen & ~np.isnan(got["counter"])
    return int(seen.sum()), int(bad.sum())


def progress_layers(progs: list, tracer) -> dict[str, float]:
    """Median of each progress-report component over ``progs``; each
    component is also recorded as a span under its batch's trigger."""
    vals: dict[str, list[float]] = {}
    for p in progs:
        d = p["durationMs"]
        t0 = _epoch(p["timestamp"])
        trig = tracer.add("streaming.trigger", t0, t0 + d.get("triggerExecution", 0) / 1e3,
                          batch_id=p["batchId"])
        for k, name in DURATION_KEYS.items():
            vals.setdefault(name, []).append(d.get(k, 0))
            if k != "triggerExecution":
                tracer.add(name[:-3], t0, t0 + d.get(k, 0) / 1e3, trig, p["batchId"])
        ops = p["stateOperators"]
        for k, name in STATE_KEYS.items():
            vals.setdefault(name, []).append(sum(o[k] for o in ops))
        vals.setdefault("streaming.input_rows_per_batch", []).append(p["numInputRows"])
    return {k: float(np.median(v)) for k, v in vals.items()}


def _epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def run_live(spark, run_dir: str, seed: int, seconds: float, tracer) -> dict:
    landing, staging, ckpt = (os.path.join(run_dir, d) for d in ("landing", "staging", "ckpt"))
    for d in (landing, staging):
        os.makedirs(d)
    sink = Sink(tracer)
    q = start(stats_query(spark, landing, None), sink, ckpt)
    files = int(round((LIVE_WARMUP_S + seconds) / LIVE_PERIOD_S))
    result = os.path.join(run_dir, "live.json")
    t0 = time.time() + 1.0
    args = dict(landing=landing, staging=staging, result=result, seed=seed, t0=t0,
                files=files, period_s=LIVE_PERIOD_S, rate=LIVE_RATE, n_tags=LIVE_TAGS)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "feed.py"),
         "live", json.dumps(args)])
    try:
        gen.wait(timeout=LIVE_WARMUP_S + seconds + 30)
        with open(result) as f:
            fed = json.load(f)
        names = {x["name"] for x in fed["files"]}
        deadline = time.time() + 60
        while time.time() < deadline:
            done = set().union(*committed(ckpt).values()) if os.path.isdir(ckpt) else set()
            if names <= done:
                break
            time.sleep(0.05)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        q.stop()
    commits = committed(ckpt)
    done = set().union(*commits.values())
    missing = len(names - done)
    checked, wrong = check_state(sink, commits, Tally.from_json(fed["tally"]))
    for x in fed["files"]:
        tracer.add("gen.write", x["start"], x["landed"], file=x["name"])

    # latency: newest contributing event's due time -> row emission
    t_warm = (t0 + LIVE_WARMUP_S) * 1e6
    lat, measured, excluded = [], set(), 0
    for b in sorted(commits):
        s = sink.batches.get(b)
        if s is None or not len(s["cols"]["tag"]):
            continue
        c = s["cols"]["created_us"]
        if c.min() < t_warm or excluded < LIVE_WARMUP_BATCHES:
            excluded += 1
            continue
        measured.add(b)
        lat.append(s["emit"] * 1e6 - c)
    lat = np.concatenate(lat) / 1e3 if lat else np.array([])
    progs = [p for p in q.recentProgress if p["batchId"] in measured]
    # files landed but not yet committed, at each measured batch start
    land = sorted(x["landed"] for x in fed["files"])
    committed_files = np.cumsum([len(commits[b]) for b in sorted(commits)])
    order = {b: i for i, b in enumerate(sorted(commits))}
    backlog = [
        int(np.searchsorted(land, _epoch(p["timestamp"]), side="right"))
        - (int(committed_files[order[p["batchId"]] - 1]) if order[p["batchId"]] else 0)
        for p in progs
    ]
    # delivery rate: events of the measured batches over the time from
    # the emission before the first measured batch to the last emission
    events = sum(len(commits[b]) for b in measured) * int(LIVE_RATE * LIVE_PERIOD_S)
    first = min(measured, default=None)
    prev = [sink.batches[b]["emit"] for b in sink.batches if first is not None and b < first]
    span = max(s["emit"] for s in sink.batches.values()) - max(prev) if prev else 0.0
    late = np.array([x["landed"] - x["due"] for x in fed["files"]]) * 1e3
    emit_ms = [(sink.batches[b]["emit"] - sink.batches[b]["start"]) * 1e3 for b in measured]
    rows = [len(sink.batches[b]["cols"]["tag"]) for b in measured]
    layers = progress_layers(progs, tracer)
    layers.update({
        "streaming.batches": float(len(measured)),
        "sink.emit_ms": float(np.median(emit_ms)) if emit_ms else 0.0,
        "sink.rows_emitted": float(np.median(rows)) if rows else 0.0,
        "sources.backlog_files_max": float(max(backlog, default=0)),
        "gen.late_p99_ms": float(np.percentile(late, 99)),
        "gen.late_max_ms": float(late.max()),
        "streaming.warmup_batches_excluded": float(excluded),
    })
    return {
        "attempted": len(names) + checked, "failed": missing + wrong,
        "latency_ms": lat, "warmup_batches": excluded, "batches": len(measured),
        "events_per_s": events / span if span > 0 else 0.0,
        "late_ms": late, "layers": layers,
        "notes": {"files": len(names), "files_missing": missing,
                  "tags_checked": checked, "tags_wrong": wrong},
    }


def make_backlog(run_dir: str, seed: int, seconds: float) -> tuple[str, list[Tally]]:
    """Land the warm-up files plus BACKLOG_FILES_PER_S files per second
    of measured drain: more than a 4-core host drains in that time."""
    files = BACKLOG_WARMUP_BATCHES + max(3, round(seconds * BACKLOG_FILES_PER_S))
    landing = os.path.join(run_dir, "backlog")
    os.makedirs(landing)
    tallies = write_backlog(landing, seed=seed, files=files, rows=BACKLOG_ROWS,
                            n_tags=BACKLOG_TAGS, zipf_a=BACKLOG_ZIPF)
    return landing, tallies


def backlog_prefix(run_dir: str, landing: str, files: int) -> str:
    """A landing directory holding the first ``files`` backlog files
    (hard links, so mtimes and replay order are kept)."""
    sub = os.path.join(run_dir, f"backlog_{files}")
    os.makedirs(sub)
    for k in range(files):
        name = f"b{k:05d}.json"
        os.link(os.path.join(landing, name), os.path.join(sub, name))
    return sub


def _await_batch(q, batch_id: int, timeout_s: float) -> None:
    """Wait until batch ``batch_id`` has committed and reported progress."""
    deadline = time.time() + timeout_s
    while q.lastProgress is None or q.lastProgress["batchId"] < batch_id:
        if not q.isActive or time.time() > deadline:
            raise TimeoutError(f"batch {batch_id} not done in {timeout_s} s")
        time.sleep(0.005)


def drain(spark, landing: str, tallies: list[Tally], ckpt: str, tracer,
          seconds: float | None = None, warmup: int = BACKLOG_WARMUP_BATCHES,
          cpu_s=None) -> dict:
    """Drain the backlog, one file per trigger; the first ``warmup``
    batches are not measured. With ``seconds``, the query runs for that
    long after the warm-up batches, then to the next batch boundary (and
    at least until BACKLOG_MIN_BATCHES more have committed), and is then
    stopped, so a run lasts about the same time on a slow host as on a
    fast one; the batch in flight never commits and is left out.
    ``cpu_s()`` is read at both batch boundaries of that window, for the
    CPU time per 1000 events of the batches between them. Without, the whole backlog is drained
    to termination (``availableNow``). A landed file that no committed
    batch read counts as failed only then."""
    sink = Sink(tracer)
    q = start(stats_query(spark, landing, 1), sink, ckpt,
              **({} if seconds else {"availableNow": True}))
    try:
        if seconds:
            _await_batch(q, warmup - 1, BACKLOG_TIMEOUT_S)
            b0, cpu0 = q.lastProgress["batchId"], cpu_s()
            time.sleep(seconds)
            last = max(q.lastProgress["batchId"] + 1, warmup + BACKLOG_MIN_BATCHES - 1)
            _await_batch(q, min(last, len(tallies) - 1), BACKLOG_TIMEOUT_S)
            b1, cpu1 = q.lastProgress["batchId"], cpu_s()
        elif not q.awaitTermination(BACKLOG_TIMEOUT_S):
            raise TimeoutError(f"backlog not drained in {BACKLOG_TIMEOUT_S} s")
    finally:
        q.stop()
    commits = committed(ckpt)
    index = {f"b{k:05d}.json": k for k in range(len(tallies))}
    total = Tally(len(tallies[0].count))
    for b in commits:
        for name in commits[b]:
            total.merge(tallies[index[name]])
    checked, wrong = check_state(sink, commits, total)
    measured = [b for b in sorted(commits) if b >= warmup and commits[b]]
    progs = [p for p in q.recentProgress if p["batchId"] in measured]
    dur = np.array([p["durationMs"]["triggerExecution"] for p in progs], float)
    emit_ms = [(sink.batches[b]["emit"] - sink.batches[b]["start"]) * 1e3
               for b in measured if b in sink.batches]
    emitted = [len(sink.batches[b]["cols"]["tag"]) for b in measured if b in sink.batches]
    layers = progress_layers(progs, tracer)
    layers.update({
        "streaming.batches": float(len(progs)),
        "sink.emit_ms": float(np.median(emit_ms)) if emit_ms else 0.0,
        "sink.rows_emitted": float(np.median(emitted)) if emitted else 0.0,
        "streaming.warmup_batches_excluded": float(warmup),
    })
    read = len(index.keys() & set().union(*commits.values()))
    expected = read if seconds else len(tallies)
    return {
        "attempted": expected + checked,
        "failed": expected - read + wrong,
        "batch_ms": dur, "warmup_batches": warmup,
        # rows over the measured batches' time: a window holds few batches,
        # and their mean is steadier than their median
        "events_per_s": BACKLOG_ROWS * len(dur) / (dur.sum() / 1e3) if len(dur) else 0.0,
        "cpu_ms_per_kevent":
            (cpu1 - cpu0) * 1e3 / ((b1 - b0) * BACKLOG_ROWS / 1e3) if seconds else 0.0,
        "cpu_batches": b1 - b0 if seconds else 0,
        "layers": layers,
        "notes": {"files_committed": sum(len(v) for v in commits.values()),
                  "tags_checked": checked, "tags_wrong": wrong},
    }
