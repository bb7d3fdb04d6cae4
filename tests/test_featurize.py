"""Invariant + brute-force cross-checks for the round-5 featurization
and analytics additions (featurize.py, analytics.py OHLC/attribution/
sliding-DAU). The DuckDB oracles pin values; these tests pin the
SEMANTICS against independent recomputation."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from spark_streaming_stream_analyzer_spark.operators.featurize import (
    FH_DIM,
    KMV_K,
    N_BINS,
    TE_FOLDS,
    approx_kmv_jaccard,
    feature_hash_vectorize,
    feature_quantile_bins,
    target_encode_oof,
)
from spark_streaming_stream_analyzer_spark.operators.analytics import (
    ATTR_WINDOW_US,
    BAR_US,
    attribution_last_touch,
    ts_ohlc_bars,
    ts_sliding_dau,
)
from spark_streaming_stream_analyzer_spark.sources.tables import (
    load_table,
    ts_micros,
)


def test_quantile_bins_partition_the_table(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    per_flag_n = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    rows = feature_quantile_bins(spark, sf_dir).collect()
    by_flag: dict[str, list] = {}
    for r in rows:
        by_flag.setdefault(r["l_returnflag"], []).append(r)
    for flag, bins in by_flag.items():
        bins.sort(key=lambda r: r["bin"])
        # bins partition the rows exactly
        assert sum(r["n_rows"] for r in bins) == per_flag_n[flag]
        # bin ids are within range and value ranges don't overlap
        assert all(0 <= r["bin"] < N_BINS for r in bins)
        # ties stay together → bin value ranges are strictly disjoint
        for a, b in zip(bins, bins[1:]):
            assert a["hi_price"] < b["lo_price"]
        # equi-depth: each bin within one max-tie-group of n/NBINS
        target = per_flag_n[flag] / N_BINS
        max_tie = (
            li.filter(F.col("l_returnflag") == flag)
            .groupBy("l_extendedprice")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        for r in bins:
            assert r["n_rows"] <= target + max_tie


def test_feature_hash_conserves_token_mass(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .count()
    )
    rows = feature_hash_vectorize(spark, sf_dir).collect()
    assert sum(r["total_cnt"] for r in rows) == n_tokens
    assert all(0 <= r["slot"] < FH_DIM for r in rows)
    assert all(r["n_words"] >= 1 and r["n_docs"] >= 1 for r in rows)


def test_target_encode_oof_matches_brute_force(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.functions.hashing import hash64

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.pmod(hash64(F.col("o_orderkey").cast("string")), F.lit(TE_FOLDS)).alias(
            "fold"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("tc"),
    )
    pdf = od.toPandas()
    got = {
        (r["o_orderpriority"], r["fold"]): r
        for r in target_encode_oof(spark, sf_dir).collect()
    }
    for (cat, fold), r in got.items():
        mask = (pdf["o_orderpriority"] == cat) & (pdf["fold"] != fold)
        oof = pdf[mask]
        assert r["n_rows"] == int(
            ((pdf["o_orderpriority"] == cat) & (pdf["fold"] == fold)).sum()
        )
        if len(oof):
            expect = (oof["tc"].sum() / 100.0) / len(oof)
            assert r["oof_mean_price"] == pytest.approx(expect, rel=1e-12)
        else:
            assert r["oof_mean_price"] is None


def test_kmv_jaccard_tracks_exact(spark, sf_dir):
    rows = approx_kmv_jaccard(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["k_used"] <= KMV_K
        assert 0 <= r["n_shared"] <= r["k_used"]
        # KMV error bound is O(1/sqrt(k)); 0.3 is a loose determinism
        # guard, the oracle pins the exact values anyway
        assert abs(r["jaccard_est"] - r["jaccard_exact"]) <= 0.3
        # small fixture sets: the sketch should be near-exhaustive when
        # the union fits in k
        if r["n_union"] <= r["k_used"]:
            assert r["n_shared"] == r["n_inter"]


def test_ohlc_open_close_match_brute_force(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", ts_micros().alias("us"), "event_id", "value"
    ).withColumn("bar", F.expr(f"us DIV {BAR_US}"))
    pdf = e.filter(F.col("event_type") == "click").toPandas()
    got = {
        r["bar"]: r
        for r in ts_ohlc_bars(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .collect()
    }
    for bar, grp in pdf.groupby("bar"):
        g = grp.sort_values(["us", "event_id"])
        r = got[bar]
        assert r["open"] == g.iloc[0]["value"]
        assert r["close"] == g.iloc[-1]["value"]
        assert r["low"] == g["value"].min() and r["high"] == g["value"].max()
        assert r["n"] == len(g)


def test_attribution_last_touch_brute_force(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    pdf = (
        ev.select("user_id", ts_micros().alias("us"), "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "us", "event_id"])
    )
    got = {
        r["purchase_id"]: r for r in attribution_last_touch(spark, sf_dir).collect()
    }
    n_checked = 0
    for user, grp in list(pdf.groupby("user_id"))[:20]:
        last_click = None
        for row in grp.itertuples(index=False):
            if row.event_type == "purchase":
                r = got[row.event_id]
                if (
                    last_click is not None
                    and row.us - last_click[0] <= ATTR_WINDOW_US
                ):
                    assert r["touch_id"] == last_click[1]
                    assert r["gap_us"] == row.us - last_click[0]
                else:
                    assert r["touch_id"] is None and r["gap_us"] is None
                n_checked += 1
            if row.event_type == "click":
                last_click = (row.us, row.event_id)
    assert n_checked > 0


def test_sliding_dau_brute_force(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.sources.tables import ts_timestamp

    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select("user_id", F.to_date(ts_timestamp()).alias("day"))
        .distinct()
        .toPandas()
    )
    got = {r["day"]: r for r in ts_sliding_dau(spark, sf_dir).collect()}
    days = sorted(ud["day"].unique())
    assert set(str(d) for d in days) == set(got)
    for d in days:
        lo = d - pd.Timedelta(days=6)
        expect7 = ud[(ud["day"] >= lo) & (ud["day"] <= d)]["user_id"].nunique()
        expect1 = ud[ud["day"] == d]["user_id"].nunique()
        r = got[str(d)]
        assert (r["dau7"], r["dau1"]) == (expect7, expect1)
        assert r["dau7"] >= r["dau1"]


def test_interval_grid_equals_quadratic(spark, sf_dir):
    """The grid-bucketed interval self-join must equal the direct
    quadratic overlap join, and its physical plan must be an equi-join
    on the bucket (no BroadcastNestedLoopJoin / cartesian)."""
    from spark_streaming_stream_analyzer_spark.operators.analytics import (
        join_interval_grid,
    )
    from spark_streaming_stream_analyzer_spark.operators.relational import (
        agg_session_window,
    )

    got = {
        (r["user_id"], r["session_start_us"]): r["n_concurrent"]
        for r in join_interval_grid(spark, sf_dir).collect()
    }
    s = agg_session_window(spark, sf_dir)
    a, b = s.alias("a"), s.alias("b")
    quad = (
        a.join(
            b,
            (F.col("a.user_id") != F.col("b.user_id"))
            & (F.col("a.session_start_us") < F.col("b.session_end_us"))
            & (F.col("b.session_start_us") < F.col("a.session_end_us")),
        )
        .groupBy(F.col("a.user_id"), F.col("a.session_start_us"))
        .count()
        .collect()
    )
    expect = {(r["user_id"], r["session_start_us"]): r["count"] for r in quad}
    for k, n in got.items():
        assert n == expect.get(k, 0), k
    assert sum(got.values()) == sum(expect.values())

    plan = join_interval_grid(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_hll_intersect_error_bounds(spark):
    """Single-set and union HLL estimates stay within ~3 sigma of the
    6.5% standard error; the inclusion-exclusion intersection carries
    the method's amplified error (difference of three sketches), so
    its bound is proportional to the UNION size, not the intersection.

    Pinned to sf0.01: the correction-free raw estimator's accuracy
    contract requires cardinality >~ 2.5·m ≈ 640 (documented in the
    op); sf0.001's ~160 user-days/set sit below it by design."""
    from spark_streaming_stream_analyzer_spark.operators.featurize import (
        approx_distinct_intersect,
    )
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    sf_dir = "/root/testdata/sf0.01"
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(ts_micros() / F.lit(86_400_000_000)).cast("long")
    ud = ev.select(
        F.col("event_type").alias("t"),
        F.concat(F.col("user_id").cast("string"), F.lit(":"), day.cast("string")).alias("u"),
    ).distinct()
    exact = {r["t"]: r["n"] for r in ud.groupBy("t").agg(F.countDistinct("u").alias("n")).collect()}
    rows = approx_distinct_intersect(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r["est_a"] / exact[r["ta"]] - 1) < 0.20
        assert abs(r["est_b"] / exact[r["tb"]] - 1) < 0.20
        n_union = (
            ud.filter(F.col("t").isin(r["ta"], r["tb"]))
            .select("u").distinct().count()
        )
        assert abs(r["est_union"] / n_union - 1) < 0.20
        # incl-excl error scales with the union estimate
        assert abs(r["est_inter"] - r["n_inter_exact"]) < 0.35 * n_union


def test_join_asof_nearest_vs_brute(spark, sf_dir):
    """Nearest-direction as-of must equal a per-order brute scan with
    the (distance, earlier-first, event_id) tiebreak."""
    from spark_streaming_stream_analyzer_spark.operators import featurize as ft
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )
    from pyspark.sql import functions as F

    ev_raw = load_table(spark, sf_dir, "events")
    events = ev_raw.select(
        "user_id", ts_micros().alias("us"), "event_id"
    ).collect()
    by_user = {}
    for r in events:
        by_user.setdefault(r["user_id"], []).append((r["us"], r["event_id"]))
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            (F.unix_timestamp(F.col("o_orderdate").cast("timestamp"))
             * 1_000_000).alias("od_us"),
        )
        .collect()
    )
    expect = {}
    for o in orders:
        cands = [
            (abs(us - o["od_us"]), us, eid)
            for us, eid in by_user.get(o["o_custkey"], [])
            if abs(us - o["od_us"]) <= ft.NEAR_WIN_US
        ]
        expect[o["o_orderkey"]] = min(cands)[2] if cands else None
    got = {
        r["o_orderkey"]: r["near_event_id"]
        for r in ft.join_asof_nearest(spark, sf_dir).collect()
    }
    assert got == expect
    assert any(v is None for v in got.values())  # silence rows survive


def test_chi2_select_vs_brute(spark, sf_dir):
    """Top-k rows must equal a literal 2x2 chi-square over python
    sets, same integer scaling and tie-break."""
    from spark_streaming_stream_analyzer_spark.operators import featurize as ft
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    n_total = len(rows)
    src_docs = {}
    tok_docs = {}
    pair_docs = {}
    for r in rows:
        src_docs[r["source"]] = src_docs.get(r["source"], 0) + 1
        toks = {t for t in r["text"].split(" ") if t}
        for t in toks:
            tok_docs[t] = tok_docs.get(t, 0) + 1
            pair_docs[(r["source"], t)] = pair_docs.get((r["source"], t), 0) + 1
    expect_rows = {}
    for (s, t), a in pair_docs.items():
        T = tok_docs[t]
        if T < ft.CHI2_MIN_DF:
            continue
        b = src_docs[s] - a
        c = T - a
        d = n_total - src_docs[s] - T + a
        if min(a + b, c + d, a + c, b + d) <= 0:
            continue
        num = n_total * (a * d - b * c) ** 2 * 1000
        den = (a + b) * (c + d) * (a + c) * (b + d)
        chi2 = num // den
        expect_rows.setdefault(s, []).append((chi2, t, a, b, c, d))
    expect = []
    for s in expect_rows:
        ranked = sorted(expect_rows[s], key=lambda x: (-x[0], x[1]))
        for i, (chi2, t, a, b, c, d) in enumerate(ranked[: ft.CHI2_TOPK], 1):
            expect.append((s, t, a, b, c, d, chi2, i))
    got = [
        (r["source"], r["token"], r["a"], r["b"], r["c"], r["d"],
         r["chi2_e3"], r["rn"])
        for r in ft.feature_chi2_select(spark, sf_dir).collect()
    ]
    assert sorted(got) == sorted(expect)


def test_cv_folds_partition_and_match_oof_assignment(spark, sf_dir):
    """Folds partition every class; shares sum to 1e6 per class within
    floor rounding; assignment is the deterministic hash."""
    from collections import Counter

    from spark_streaming_stream_analyzer_spark.operators import featurize as ft
    from spark_streaming_stream_analyzer_spark.functions.hashing import hash64
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    assign = {
        r["doc_id"]: r["f"]
        for r in docs.select(
            "doc_id",
            F.pmod(
                hash64(F.concat(F.lit("cv#"), F.col("doc_id").cast("string"))),
                F.lit(ft.CV_FOLDS),
            ).alias("f"),
        ).collect()
    }
    langs = {r["doc_id"]: r["lang"]
             for r in docs.select("doc_id", "lang").collect()}
    cells = Counter((assign[d], langs[d]) for d in assign)
    totals = Counter()
    for (f, l), n in cells.items():
        totals[l] += n
    got = {
        (r["fold"], r["lang"]): (r["n_docs"], r["lang_total"], r["share_ppm"])
        for r in ft.sample_cv_folds(spark, sf_dir).collect()
    }
    assert got == {
        (f, l): (n, totals[l], (n * 1_000_000) // totals[l])
        for (f, l), n in cells.items()
    }
    for l in totals:
        s = sum(v[2] for (f, ll), v in got.items() if ll == l)
        assert 1_000_000 - 5 * ft.CV_FOLDS <= s <= 1_000_000
