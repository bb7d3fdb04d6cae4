"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at the given sf dir, then compares: row count, column names
(sorted), and values (order-insensitive, exact by default). Use this
before every commit; the real driver does the same at sf0.01.

Usage: python scripts/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from spark_streaming_stream_analyzer_spark.session import get_spark, spark_cpus
from spark_streaming_stream_analyzer_spark.sources.tables import TABLE_NAMES


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify everything (lists aren't sortable/hashable otherwise)
    out = df.copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: repr(v.tolist()) if hasattr(v, "tolist") else repr(v))
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        problems.append(f"columns spark={scols} oracle={ocols}")
        return problems
    cs, co = canon(sdf), canon(odf)
    if len(cs) == len(co):
        neq = (cs != co)
        bad_cols = [c for c in cs.columns if neq[c].any()]
        for c in bad_cols:
            idx = neq[c].idxmax()
            problems.append(
                f"value mismatch col={c} e.g. spark={cs[c][idx]} oracle={co[c][idx]} "
                f"({int(neq[c].sum())} rows differ)"
            )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # Mirror the external driver's session: a bare builder with NO
        # repo conf (no AQE/Arrow/timezone assumptions may leak into
        # queries(); the registry's op_session must provision them).
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"local[{spark_cpus()}]")
            .appName("vanilla-selfcheck")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # multi-file layout: DuckDB needs an explicit glob for a
            # directory of parts (Spark reads directories natively)
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{spark_t:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(problems) + f" [{spark_t:.1f}s]")
        else:
            print(f"ok    {name}: {len(sdf)} rows [{spark_t:.1f}s]")
    print(f"\n{failures} failures / {len(qs)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
