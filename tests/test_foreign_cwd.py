"""Ops whose code runs on Python workers work from any working directory.

An outside launcher imports the package by absolute path from its own
cwd, with no ``PYTHONPATH``. Python workers started from there cannot
import the package from disk, so the package pickles its worker code by
value. These ops run package code on workers: the Python data source
planner and writer, and three ``applyInPandasWithState`` updaters that
read module-level constants.
"""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

OPS = [
    "stream_python_datasource",
    "sink_python_datasource",
    "stream_seq_pattern",
    "stream_cusum_alarm",
    "stream_user_360",
]

SELFCHECK = pathlib.Path(__file__).resolve().parent.parent / "scripts" / "selfcheck.py"


def test_worker_ops_match_oracle_from_a_foreign_cwd(sf_dir, tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.run(
        [sys.executable, str(SELFCHECK), sf_dir, *OPS],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    report = [ln for ln in proc.stdout.splitlines() if ln.split(" ", 1)[0] in ("ok", "FAIL")]
    assert proc.returncode == 0, "\n".join(report) or proc.stderr[-4000:]
    assert len(report) == len(OPS), proc.stdout[-4000:]
