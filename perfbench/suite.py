"""The operator suite: a fixed cross-module list of registry queries.

Every run times a probe: a few cheap queries re-run warm, each result
checked once against its oracle. The traced run first makes one pass
over the whole list, in a JVM warmed only by session set-up, and times
each query. A pass takes about a minute, more than the time budget of
an untraced run (see README.md), so untraced runs leave it out. Each
pass query is forced by collecting its result, which is then compared,
off the clock, with the query's ``registry.ORACLES`` SQL in DuckDB
using ``scripts/selfcheck.py``'s ``canon``/``compare``.
"""

from __future__ import annotations

import importlib.util
import os
import time
import traceback

import numpy as np

from spark_streaming_stream_analyzer_spark import registry
from spark_streaming_stream_analyzer_spark.sources.tables import TABLE_NAMES

# query -> package module holding its kernel
QUERIES = {
    "agg_running_stats": "operators.stats",
    "proj_json_extract_pair": "operators.projections",
    "agg_batch_wordcount": "operators.wordcount",
    "stream_batch_wordcount": "streaming.pipelines",
    "stream_kafka_pipeline": "streaming.pipelines",
    "stream_stats_exact_state": "streaming.state",
    "q1_pricing_summary": "operators.relational",
    "q3_shipping_priority": "operators.relational",
    "q9_product_profit": "operators.relational",
    "q18_large_volume_customer": "operators.relational",
    "ts_rolling_window_1h": "operators.relational",
    "dedup_exact": "operators.dedup",
    "dedup_minhash_lsh": "operators.dedup",
    "dedup_simhash": "operators.dedup",
    "sim_topk_cosine": "operators.similarity",
    "text_quality_score": "operators.textstats",
    "text_ngram_novelty": "operators.textstats",
    "graph_kcore": "operators.graph",
    "pack_token_budget": "operators.packing",
    "mm_frame_sample": "operators.multimodal",
}
MODULES = sorted(set(QUERIES.values()))
# the probe: interactive queries whose warm time is per-query
# fixed cost (planning, scheduling), not core count, so it stays
# comparable when the host's CPUs are contended
PROBE_QUERIES = ("proj_json_extract_pair", "agg_batch_wordcount", "dedup_exact",
                 "text_quality_score", "ts_rolling_window_1h")
PROBE_WARMUP = 2             # unmeasured rounds, the first checked
PROBE_MIN_ROUNDS = 2         # measured rounds, at the least
# fixture size: 60k lineitem rows; the suite is bound by per-query
# fixed cost (planning, job scheduling, streaming start-up) at this size
TABLE_SCALE = 0.01


class Oracle:
    """Compares a query's collected result with its ``registry.ORACLES``
    SQL, run in DuckDB over the same parquet tables, using
    ``scripts/selfcheck.py``'s ``canon``/``compare``."""

    def __init__(self, tables: str, repo: str):
        import duckdb

        spec = importlib.util.spec_from_file_location(
            "selfcheck", os.path.join(repo, "scripts", "selfcheck.py"))
        self.selfcheck = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.selfcheck)
        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            p = os.path.join(tables, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def check(self, name: str, got) -> list[str]:
        want = self.con.execute(registry.ORACLES[name]).df()
        bad = self.selfcheck.compare(name, got, want)
        return [f"{name}: " + "; ".join(bad)] if bad else []

    def close(self) -> None:
        self.con.close()


def _collect(spark, tables: str, name: str, problems: list[str]):
    try:
        return registry.QUERIES[name](spark, tables).toPandas()
    except Exception:
        problems.append(f"{name}: {traceback.format_exc(limit=1).strip()}")
        return None


def run_pass(spark, tables: str, oracle: Oracle, tracer) -> dict:
    """Time each query once; check each result against its oracle.
    A query that raises or disagrees with its oracle counts as failed."""
    walls, calls, problems = {}, [], []
    for name in QUERIES:
        t = time.time()
        got = _collect(spark, tables, name, problems)
        calls.append((name, t, time.time()))
        walls[name] = calls[-1][2] - t
        if got is not None:
            problems += oracle.check(name, got)
    suite_s = sum(walls.values())
    top = tracer.add("suite.pass", calls[0][1], calls[-1][2])
    for name, t, e in calls:
        tracer.add("suite.query", t, e, top, query=name, module=QUERIES[name])
    layers = {f"query.{n}_s": v for n, v in walls.items()}
    for m in MODULES:
        layers[f"{m}_s"] = sum(v for n, v in walls.items() if QUERIES[n] == m)
    layers["suite_s"] = suite_s
    return {
        "walls_s": np.array(list(walls.values())), "suite_s": suite_s,
        "attempted": len(QUERIES), "failed": len(problems), "problems": problems,
        "layers": layers,
    }


def latency_probe(spark, tables: str, oracle: Oracle, seconds: float, tracer, cpu_s) -> dict:
    """Warm wall time of each PROBE_QUERIES call. The first
    PROBE_WARMUP rounds are not measured: the first collects each result
    and checks it against its oracle, the second finishes warming the JVM
    (a query's second run is still faster than its first).
    Then whole measured rounds, each query forced with the noop sink,
    until ``seconds`` have passed (at least PROBE_MIN_ROUNDS). Returns
    the measured walls of each query and the CPU time (``cpu_s()``) per
    measured call."""
    walls = {name: [] for name in PROBE_QUERIES}
    problems, attempted, rnd = [], 0, 0
    t_end = None
    while True:
        if rnd == PROBE_WARMUP:
            t_end, cpu0 = time.time() + seconds, cpu_s()
        if t_end is not None and rnd >= PROBE_WARMUP + PROBE_MIN_ROUNDS and time.time() > t_end:
            break
        for name in PROBE_QUERIES:
            attempted += 1
            if rnd == 0:
                got = _collect(spark, tables, name, problems)
                if got is not None:
                    problems += oracle.check(name, got)
                continue
            t = time.time()
            try:
                registry.QUERIES[name](spark, tables).write.format("noop").mode(
                    "overwrite").save()
            except Exception:
                problems.append(f"{name}: {traceback.format_exc(limit=1).strip()}")
            if rnd >= PROBE_WARMUP:
                walls[name].append((time.time() - t) * 1e3)
                tracer.add("suite.probe", t, time.time(), query=name, module=QUERIES[name])
        rnd += 1
    cpu_ms = (cpu_s() - cpu0) * 1e3 / ((rnd - PROBE_WARMUP) * len(PROBE_QUERIES))
    return {"walls_ms": {n: np.array(w) for n, w in walls.items()}, "attempted": attempted,
            "failed": len(problems), "problems": problems, "rounds": rnd - PROBE_WARMUP,
            "cpu_ms_per_call": cpu_ms}
