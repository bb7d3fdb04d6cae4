"""Benchmark of the streaming stats job and the operator suite.

    python3 perfbench/run.py --workload stats_stream --seed 1 --seconds 6 --trace 0

Run from the repository root. Workloads and metric names are declared
in ``BENCHMARK.json``; see ``perfbench/README.md`` for what each
measures. Human-readable lines (each metric with its unit and sample
count) come first; the last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The run itself happens in a child process. Its parent waits until every
process the run started (JVM, PySpark workers, the live generator) has
ended, then removes the run's fresh directory under ``perfbench/.run/``
(landing, checkpoint, warehouse, Spark local and temp dirs) and prints
the JSON line. ``--trace 1`` also writes its spans to
``perfbench/.traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spark_streaming_stream_analyzer_spark"
SETUP_CYCLES = 3
JVM_HEAP = "2g"
CHILD_TIMEOUT_S = 160     # the run itself; a whole run must end within 180 s
CHILD_GRACE_S = 10        # for the JVM and its workers to exit on their own
PR_SET_CHILD_SUBREAPER = 36


def setup(extra_conf: dict) -> tuple:
    """Create the session SETUP_CYCLES times (stop, ``get_spark``, first
    action). The first cycle also launches the JVM. Returns the last
    session and the per-cycle (get_spark seconds, total seconds)."""
    from pyspark.sql import functions as F

    from spark_streaming_stream_analyzer_spark.session import get_spark

    spark, cycles = None, []
    for _ in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=extra_conf)
        t1 = time.perf_counter()
        spark.range(1000).agg(F.sum("id")).collect()
        cycles.append((t1 - t0, time.perf_counter() - t0))
    return spark, cycles


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> float:
    """Peak RSS of the Spark JVM plus this Python process."""
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        jvm_kb = next(int(x.split()[1]) for x in f if x.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) of a process and all its live
    descendants, plus the waited-for children each has reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return total / tick


def own_cpu_s() -> float:
    """CPU seconds of this process, the Spark JVM and their workers."""
    return tree_cpu_s(os.getpid())


def pct(values, q: float) -> float:
    return float(np.percentile(values, q))


def run(args, run_dir: str, cpus: int, tracer) -> dict:
    """Prepare inputs, set up, run the workload. Returns every metric
    value by its BENCHMARK.json name (``values``), the human report lines
    (``report``: name, value, unit, samples, metric name) and the op
    counts."""
    import streams
    import suite

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    prep_s = time.perf_counter()
    if args.workload == "stats_stream":
        landing, tallies = streams.make_backlog(run_dir, args.seed, args.seconds)
    else:
        tables = os.path.join(run_dir, "tables")
        os.makedirs(tables)
        from feed import write_tables

        write_tables(tables, seed=args.seed, scale=suite.TABLE_SCALE)
    prep_s = time.perf_counter() - prep_s

    spark, cycles = setup(conf)
    setup_s = statistics.median(c[1] for c in cycles)
    layers = {
        "session.get_spark_s": statistics.median(c[0] for c in cycles),
        "session.cold_start_s": cycles[0][1],
        "gen.prepare_s": prep_s,
    }
    report = [("setup_s", setup_s, "s", f"n={len(cycles)} setups", "setup_s")]
    try:
        if args.workload == "stats_stream":
            cpu = tree_cpu_s(jvm_pid(spark))
            b = streams.drain(spark, landing, tallies, os.path.join(run_dir, "ckpt_backlog"),
                              tracer, args.seconds, cpu_s=own_cpu_s)
            cpu = tree_cpu_s(jvm_pid(spark)) - cpu
            live = streams.run_live(spark, run_dir, args.seed, args.seconds, tracer)
            ops = [b, live]
            lat, d = live["latency_ms"], b["batch_ms"]
            lat_n = (f"n={len(lat)} rows, {live['batches']} batches, "
                     f"{live['warmup_batches']} warm-up batches excluded")
            bat_n = f"n={len(d)} batches, {b['warmup_batches']} warm-up batches excluded"
            report += [
                ("live_latency_p50_ms", pct(lat, 50), "ms", lat_n, "latency_p50_ms"),
                ("live_latency_p99_ms", pct(lat, 99), "ms", lat_n, "live.latency_p99_ms"),
                ("live_events_per_s", live["events_per_s"], "1/s", lat_n, "live.events_per_s"),
                ("backlog_events_per_s", b["events_per_s"], "1/s", bat_n, "throughput_per_s"),
                ("backlog_batch_p50_ms", pct(d, 50), "ms", bat_n, "backlog.batch_p50_ms"),
                ("backlog_cpu_s", cpu, "s", bat_n, "backlog.cpu_s"),
                ("backlog_cpu_ms_per_kevent", b["cpu_ms_per_kevent"], "ms",
                 f"n={b['cpu_batches']} batches", "cpu_ms_per_op"),
            ]
            for phase, r in (("backlog", b), ("live", live)):
                layers.update({f"{phase}.{k}": v for k, v in r["layers"].items()})
            layers.update({
                "backlog.batch_p99_ms": pct(d, 99), "live.latency_samples": float(len(lat)),
            })
            if args.trace:
                # single-core baseline on a prefix of the same backlog
                spark.stop()
                os.environ["SPARK_GRAFT_CPUS"] = "1"
                spark, _ = setup(conf)
                one = streams.drain(
                    spark, streams.backlog_prefix(run_dir, landing, 4), tallies[:4],
                    os.path.join(run_dir, "ckpt_1core"), tracer, warmup=1)
                ops.append(one)
                layers["streaming.backlog_events_per_s_1core"] = one["events_per_s"]
        else:
            oracle = suite.Oracle(tables, ROOT)
            ops = []
            if args.trace:
                cpu = tree_cpu_s(jvm_pid(spark))
                s = suite.run_pass(spark, tables, oracle, tracer)
                cpu = tree_cpu_s(jvm_pid(spark)) - cpu
                ops.append(s)
                w = s["walls_s"] * 1e3
                n = f"n={len(w)} queries, 1 pass"
                report += [
                    ("suite_s", s["suite_s"], "s", n, "suite_s"),
                    ("suite_cpu_s", cpu, "s", n, "suite.cpu_s"),
                ]
                layers.update({"suite.query_p50_ms": pct(w, 50),
                               "suite.query_p99_ms": pct(w, 99)})
                layers.update(s["layers"])
            p = suite.latency_probe(spark, tables, oracle, args.seconds, tracer, own_cpu_s)
            oracle.close()
            ops.append(p)
            for r in ops:
                for problem in r["problems"]:
                    print(f"FAIL {problem}")
            # the mean of each query's median: a median over the pooled
            # calls would jump between the queries' different levels
            lat = float(np.mean([np.median(w) for w in p["walls_ms"].values()]))
            calls = np.concatenate(list(p["walls_ms"].values()))
            pn = (f"n={len(calls)} calls, {p['rounds']} rounds of "
                  f"{len(suite.PROBE_QUERIES)} queries, {suite.PROBE_WARMUP} warm-up rounds excluded")
            report += [
                ("query_latency_p50_ms", lat, "ms", pn, "latency_p50_ms"),
                ("query_latency_p99_ms", pct(calls, 99), "ms", pn, "suite.probe_p99_ms"),
                ("queries_per_s", 1e3 / lat, "1/s", pn, "throughput_per_s"),
                ("probe_cpu_ms_per_query", p["cpu_ms_per_call"], "ms", pn, "cpu_ms_per_op"),
            ]
        rss = peak_rss_mb(spark)
    finally:
        spark.stop()
    attempted = sum(r["attempted"] for r in ops)
    failed = sum(r["failed"] for r in ops)
    report += [
        ("peak_rss_mb", rss, "MB", "n=1 peak", "peak_rss_mb"),
        ("ops_failed_frac", failed / attempted, "1", f"{failed} of {attempted} ops", None),
    ]
    for r in ops:
        for k, v in r.get("notes", {}).items():
            print(f"note {k} = {v}")
    layers.update({key: v for _, v, _, _, key in report if key})
    return {"values": layers, "report": report, "attempted": attempted, "failed": failed,
            "cpus": cpus}


def result(args, spec: dict, out: dict) -> dict:
    """Print the human report; return the final JSON object."""
    print(f"workload {args.workload}: seed {args.seed}, {args.seconds:g} s, "
          f"SPARK_GRAFT_CPUS={out['cpus']}")
    for name, value, unit, samples, key in out["report"]:
        alias = f" ({key})" if key and key != name else ""
        print(f"{name}{alias} = {value:.4f} {unit} [{samples}]")
    kind = "per_layer" if args.trace else "end_to_end"
    # a layer the workload does not exercise reads 0
    metrics = {m["name"]: {"value": float(out["values"].get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[kind]}
    if args.trace:
        for k, m in metrics.items():
            print(f"layer {k} = {m['value']:.4f} {m['unit']}")
    return {"correct": out["failed"] == 0, "attempted": int(out["attempted"]),
            "failed": int(out["failed"]), "metrics": metrics}


def child(args, spec: dict, run_dir: str) -> int:
    """The run itself, in the child process ``supervise`` starts. Writes
    the final JSON object to ``result.json`` in the run directory."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [HERE, ROOT]
    from spans import Tracer

    tracer = Tracer(bool(args.trace))
    out = run(args, run_dir, cpus, tracer)
    out["values"]["trace.overhead_ms"] = tracer.self_s * 1e3
    out["values"]["trace.spans"] = float(len(tracer.spans))
    if args.trace:
        out_dir = os.path.join(HERE, ".traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl")
        tracer.write(path)
        print(f"spans written to {os.path.relpath(path, ROOT)}")
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result(args, spec, out), f)
    return 0


def _children() -> dict[int, list[int]]:
    """Parent pid -> pids of its live children, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def _kill_descendants() -> None:
    kids, todo = _children(), [os.getpid()]
    while todo:
        for pid in kids.get(todo.pop(), []):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            todo.append(pid)


def supervise(argv: list[str], run_dir: str) -> int:
    """Run the benchmark in a child process, then make sure that every
    process the run started has ended before returning.

    This process is made the child subreaper of the run: the Spark JVM,
    PySpark's worker daemon (which leaves the JVM's process group) and
    the live generator are re-parented to it when their own parent
    exits, so it can wait for each. After the child ends, what is left
    gets CHILD_GRACE_S to exit on its own (the JVM exits when its stdin,
    the child's pipe, closes), then is killed; the run directory is
    removed once nothing is running that could still write to it. The
    child's result is printed only then, as the last line of stdout."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become child subreaper", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: _kill_descendants())
    os.makedirs(run_dir)
    env = dict(os.environ, PERFBENCH_RUN_DIR=run_dir)
    code = 1
    try:
        proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv], env=env)
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s, stopped", file=sys.stderr)
            proc.kill()
            proc.wait()
    finally:
        deadline = time.monotonic() + CHILD_GRACE_S
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                if time.monotonic() > deadline:
                    _kill_descendants()
                time.sleep(0.05)
        path = os.path.join(run_dir, "result.json")
        out = None
        if code == 0 and os.path.exists(path):
            with open(path) as f:
                out = f.read()
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))
    if out is None:
        return code or 1
    print(out, flush=True)
    return 0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.environ.get("PERFBENCH_RUN_DIR")
    if run_dir:
        return child(args, spec, run_dir)
    return supervise(sys.argv[1:], os.path.join(HERE, ".run", uuid.uuid4().hex[:12]))


if __name__ == "__main__":
    sys.exit(main())
