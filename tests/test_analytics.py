"""Tests for operators/analytics.py: the Q11/Q12/Q21 adaptations,
exact z-score outlier flagging, integer-exact TF-IDF ranking, the
salted-join equivalence, and sliding windows (batch + streaming)."""

from __future__ import annotations

import statistics

from pyspark.sql import functions as F

from spark_streaming_stream_analyzer_spark import registry
from spark_streaming_stream_analyzer_spark.operators import analytics
from spark_streaming_stream_analyzer_spark.sources.tables import load_table


def test_q11_threshold_is_strict_share(spark, sf_dir):
    rows = registry.QUERIES["q11_important_values"](spark, sf_dir).collect()
    assert rows, "some parts must clear the 0.1% share"
    # every returned part's value exceeds 0.1% of the total over the
    # SAME supplier-filtered relation — recompute independently
    su = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    li = load_table(spark, sf_dir, "lineitem")
    total = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .select(
            (
                F.round(F.col("l_extendedprice") * 100).cast("decimal(18,0)")
                * F.round(F.col("l_quantity") * 100).cast("decimal(18,0)")
            ).alias("v")
        )
        .agg(F.sum("v"))
        .collect()[0][0]
    )
    for r in rows:
        assert r["part_value"] * 10000 * 1000 > float(total) - 1e-4


def test_q12_counts_partition_late_lineitems(spark, sf_dir):
    rows = registry.QUERIES["q12_late_priority_counts"](spark, sf_dir).collect()
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n_late = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .count()
    )
    assert sum(r["high_line_count"] + r["low_line_count"] for r in rows) == n_late


def test_q21_causers_are_unique_late_suppliers(spark, sf_dir):
    rows = registry.QUERIES["q21_waiting_suppliers"](spark, sf_dir).collect()
    assert rows
    # deterministic order: numwait desc, name asc
    keys = [(-r["numwait"], r["s_name"]) for r in rows]
    assert keys == sorted(keys)


def test_anomaly_zscore_matches_float_computation(spark, sf_dir):
    out = registry.QUERIES["anomaly_zscore"](spark, sf_dir)
    rows = out.collect()
    ev = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    by_type: dict[str, list[float]] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    flagged = {r["event_id"]: r for r in rows}
    assert len(flagged) == len(ev)
    mism = 0
    for r in rows:
        vals = by_type[r["event_type"]]
        mu = statistics.fmean(vals)
        sd = statistics.stdev(vals)
        expect = abs(r["value"] - mu) > 2 * sd
        # integer cross-multiplication vs float z-score: identical off
        # the knife edge; fixture values are not on the edge
        if expect != r["is_outlier"]:
            mism += 1
    assert mism == 0
    assert any(r["is_outlier"] for r in rows), "fixture should contain outliers"


def test_tfidf_topk_ranks_rare_terms_first(spark, sf_dir):
    out = registry.QUERIES["text_tfidf_topk"](spark, sf_dir)
    rows = out.collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_rows in per_doc.values():
        assert 1 <= len(doc_rows) <= analytics.TFIDF_TOPK
        doc_rows.sort(key=lambda r: r["rn"])
        for r in doc_rows:
            assert r["score"] == (r["tf"] * analytics.TFIDF_SCALE) // r["df"]
        scores = [(-r["score"], r["word"]) for r in doc_rows]
        assert scores == sorted(scores)


def test_salted_join_equals_plain_join(spark, sf_dir):
    salted = {
        r["o_orderpriority"]: r["revenue"]
        for r in registry.QUERIES["join_salted_skew"](spark, sf_dir).collect()
    }
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        r["o_orderpriority"]: r["revenue"]
        for r in li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast(
                    "double"
                )
                / 100.0
            ).alias("revenue")
        )
        .collect()
    }
    assert salted == plain


def test_sliding_window_double_counts_tumbling(spark, sf_dir):
    # each event is in exactly 2 sliding windows → total cnt = 2·|events|
    out = registry.QUERIES["agg_sliding_window"](spark, sf_dir)
    total = out.agg(F.sum("cnt")).collect()[0][0]
    n_events = load_table(spark, sf_dir, "events").count()
    assert total == 2 * n_events


def test_stream_sliding_window_subset_of_batch(spark, sf_dir):
    stream_rows = {
        (r["win_start"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in registry.QUERIES["stream_sliding_window"](spark, sf_dir).collect()
    }
    batch_rows = {
        (r["win_start"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in registry.QUERIES["agg_sliding_window"](spark, sf_dir).collect()
    }
    assert stream_rows, "watermark must flush closed windows"
    # append-mode emits the watermark-closed subset, values identical
    for k, v in stream_rows.items():
        assert batch_rows[k] == v


def test_sample_split_is_complete_and_calibrated(spark, sf_dir):
    rows = registry.QUERIES["sample_split_hash"](spark, sf_dir).collect()
    n_total = load_table(spark, sf_dir, "lineitem").count()
    assert sum(r["n_rows"] for r in rows) == n_total
    by_split = {}
    for r in rows:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_rows"]
    # hash buckets: ~80/10/10 within generous tolerance at sf0.001
    assert 0.7 < by_split["train"] / n_total < 0.9
    assert by_split["train"] > by_split["valid"]
    assert by_split["train"] > by_split["test"]


def test_bloom_prefilter_never_false_negative(spark, sf_dir):
    r = registry.QUERIES["join_bloom_prefilter"](spark, sf_dir).collect()[0]
    assert r["n_candidates"] >= r["n_members"], "bloom must not drop members"
    assert r["n_false_pos"] == r["n_candidates"] - r["n_members"]
    assert r["n_probe"] >= r["n_candidates"]
    # 64 Kbit / 3 hashes over <=10^4 keys: fp rate should be tiny
    non_members = r["n_probe"] - r["n_members"]
    if non_members:
        assert r["n_false_pos"] / non_members < 0.05


def test_char_ngram_profile_topk_ranked(spark, sf_dir):
    rows = registry.QUERIES["text_char_ngram_profile"](spark, sf_dir).collect()
    per_lang = {}
    for r in rows:
        assert len(r["gram"]) == 3
        per_lang.setdefault(r["lang"], []).append(r)
    for lang_rows in per_lang.values():
        assert 1 <= len(lang_rows) <= 10
        lang_rows.sort(key=lambda r: r["rnk"])
        keys = [(-r["cnt"], r["gram"]) for r in lang_rows]
        assert keys == sorted(keys)


def test_stream_upsert_equals_batch_latest(spark, sf_dir):
    from pyspark.sql import Window as W

    got = {
        r["user_id"]: (r["last_us"], r["last_event_id"], r["last_value"])
        for r in registry.QUERIES["stream_foreachbatch_upsert"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    from spark_streaming_stream_analyzer_spark.sources.tables import ts_micros

    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))
    )
    want = {
        r["user_id"]: (r["us"], r["event_id"], r["value"])
        for r in ev.withColumn("us", ts_micros())
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want


def test_cms_estimates_are_one_sided_and_tight(spark, sf_dir):
    rows = registry.QUERIES["approx_cms_topk"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # count-min guarantee: estimate never undercounts
        assert r["overestimate"] >= 0
        assert r["cms_est"] >= r["exact_n"]
    # with |vocab| ≪ D·W the sketch should be near-exact on fixtures:
    # bound total overestimate mass at 20% of true mass
    total_over = sum(r["overestimate"] for r in rows)
    total_exact = sum(r["exact_n"] for r in rows)
    assert total_over <= 0.2 * total_exact


def test_cohort_retention_invariants(spark, sf_dir):
    rows = registry.QUERIES["cohort_retention"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["retention"] <= 1.0
        assert r["n_active"] <= r["cohort_size"]
        # offset 0 is the cohort's own first week: everyone is active
        if r["week_offset"] == 0:
            assert r["n_active"] == r["cohort_size"]


def test_json_key_inventory_shares(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.functions.jsonf import (
        json_key_inventory,
    )
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    out = {r["key"]: r for r in json_key_inventory(spark, sf_dir).collect()}
    n = load_table(spark, sf_dir, "events").count()
    assert set(out) == {"k", "extra", "geo"}
    assert out["k"]["n_docs"] == n and out["k"]["doc_share"] == 1.0
    # extra: event_id % 3 in {0,1}; geo: % 3 == 1 only
    assert out["geo"]["n_docs"] < out["extra"]["n_docs"] < n


def test_interval_overlap_sessions_hit_hot_hours(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators.analytics import (
        _HOUR_US,
        HOT_HOURS_K,
        join_interval_overlap,
    )
    from spark_streaming_stream_analyzer_spark.operators.relational import (
        agg_session_window,
    )

    rows = join_interval_overlap(spark, sf_dir).collect()
    assert rows
    assert len({r["hour_bucket"] for r in rows}) <= HOT_HOURS_K
    sess = {
        (r["user_id"], r["session_start_us"]): r["session_end_us"]
        for r in agg_session_window(spark, sf_dir).collect()
    }
    for r in rows:  # every emitted pair genuinely overlaps
        end = sess[(r["user_id"], r["session_start_us"])]
        assert r["session_start_us"] < (r["hour_bucket"] + 1) * _HOUR_US
        assert end > r["hour_bucket"] * _HOUR_US


def test_ewma_matches_python_fold(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators.analytics import (
        EWMA_K,
        ts_ewma_recent,
    )
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    got = {r["user_id"]: r for r in ts_ewma_recent(spark, sf_dir).collect()}
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(got) == set(by_user)
    for uid, rows in by_user.items():
        # ts may be a datetime (timestamp fixture) or int (ns fixture)
        rows.sort(key=lambda r: (r["ts"], r["event_id"]), reverse=True)
        recent = rows[:EWMA_K]
        num = sum(
            round(r["value"] * 100) * (1 << (EWMA_K - 1 - k))
            for k, r in enumerate(recent)
        )
        den = sum(1 << (EWMA_K - 1 - k) for k in range(len(recent)))
        assert got[uid]["n_used"] == len(recent)
        assert got[uid]["ewma_value"] == num / (den * 100)


def test_incremental_merge_equals_full(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators.analytics import (
        incremental_agg_merge,
    )

    rows = incremental_agg_merge(spark, sf_dir).collect()
    assert rows
    for r in rows:  # merged partials == from-scratch recompute
        assert r["n"] == r["n_full"]
        assert r["sum_value"] == r["sum_value_full"]


def test_group_holdout_never_splits_a_user(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators.analytics import (
        sample_group_holdout,
    )

    rows = sample_group_holdout(spark, sf_dir).collect()
    n_users_total = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    # per-split distinct users sum exactly to the global distinct count
    # -> no user appears in two splits (a row-hash split would violate this)
    assert sum(r["n_users"] for r in rows) == n_users_total


def test_ts_anomaly_mad_vs_brute(spark, sf_dir):
    """Positional median/MAD picks must equal a literal sort-and-index
    median with the 3-MAD rule."""
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).collect()
    by_t = {}
    for r in rows:
        by_t.setdefault(r["event_type"], []).append(
            round(r["value"] * 1_000_000)
        )

    def med2(vals):  # 2x median as an exact integer
        s = sorted(vals)
        n = len(s)
        return s[(n - 1) // 2] + s[n // 2]

    expect = {}
    for t, vals in by_t.items():
        m2 = med2(vals)
        dev2 = [abs(2 * v - m2) for v in vals]
        m4 = med2(dev2)
        n_out = sum(1 for d in dev2 if 2 * d > 3 * m4)
        expect[t] = (len(vals), n_out, m2 / 2e6, m4 / 4e6)
    got = {
        r["event_type"]: (
            r["n_events"], r["n_outliers"], r["med_value"], r["mad_value"]
        )
        for r in an.ts_anomaly_mad(spark, sf_dir).collect()
    }
    assert got == expect
    assert any(v[1] > 0 for v in got.values())  # outliers exist


def test_resample_interp_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    HOUR = 3_600_000_000
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type", ts_micros().alias("us"), "value"
    ).collect()
    cells = {}
    for r in rows:
        key = (r["event_type"], r["us"] // HOUR)
        cells.setdefault(key, []).append(round(r["value"] * 100))
    obs = {k: sum(v) * 1000 // len(v) for k, v in cells.items()}
    h0 = min(h for _, h in obs)
    h1 = max(h for _, h in obs)
    types = {t for t, _ in obs}
    expect = {}
    for t in types:
        hs = sorted(h for tt, h in obs if tt == t)
        for h in range(h0, h1 + 1):
            if (t, h) in obs:
                expect[(t, h)] = ("obs", obs[(t, h)])
                continue
            prev = max((x for x in hs if x < h), default=None)
            nxt = min((x for x in hs if x > h), default=None)
            if prev is None or nxt is None:
                expect[(t, h)] = ("edge", None)
                continue
            pm, nm = obs[(t, prev)], obs[(t, nxt)]
            if nm >= pm:
                v = pm + (nm - pm) * (h - prev) // (nxt - prev)
            else:
                v = pm - (pm - nm) * (h - prev) // (nxt - prev)
            expect[(t, h)] = ("interp", v)
    got = {
        (r["event_type"], r["h"]): (r["kind"], r["value_milli"])
        for r in an.ts_resample_interp(spark, sf_dir).collect()
    }
    assert got == expect
    kinds = {k for k, _ in got.values()}
    assert "interp" in kinds  # gaps exist and get filled


def test_seq_pattern_triples_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "user_id", ts_micros().alias("us"), "event_type", "event_id"
    ).collect()
    by_u = {}
    for r in rows:
        by_u.setdefault(r["user_id"], []).append(
            (r["us"], r["event_id"], r["event_type"])
        )
    expect = {}
    for u, evs in by_u.items():
        evs.sort()
        n, best = 0, None
        for i in range(len(evs) - 2):
            (u0, _, t0), (u1, _, t1), (u2, _, t2) = evs[i], evs[i + 1], evs[i + 2]
            if (
                (t0, t1, t2) == ("view", "click", "purchase")
                and u1 - u0 <= an.SEQ_GAP_US
                and u2 - u1 <= an.SEQ_GAP_US
            ):
                n += 1
                best = u2 - u0 if best is None else min(best, u2 - u0)
        expect[u] = (n, best)
    got = {
        r["user_id"]: (r["n_matches"], r["min_span_us"])
        for r in an.seq_pattern_triples(spark, sf_dir).collect()
    }
    assert got == expect
    assert any(n > 0 for n, _ in got.values())


def test_assoc_rules_vs_brute(spark, sf_dir):
    from itertools import combinations

    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    baskets = {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    N = len(baskets)
    item = {}
    pair = {}
    for parts in baskets.values():
        for p in parts:
            item[p] = item.get(p, 0) + 1
        for a, b in combinations(sorted(parts), 2):
            pair[(a, b)] = pair.get((a, b), 0) + 1
    cands = [
        (n, a, b) for (a, b), n in pair.items() if n >= an.ASSOC_MIN_AB
    ]
    cands.sort(key=lambda t: (-t[0], t[1], t[2]))
    expect = [
        (
            a, b, n,
            n * 1_000_000 // N,
            n * N * 1_000_000 // (item[a] * item[b]),
        )
        for n, a, b in cands[: an.ASSOC_TOP_K]
    ]
    got = [
        (r["part_a"], r["part_b"], r["n_ab"], r["support_ppm"], r["lift_ppm"])
        for r in an.assoc_rules_pairs(spark, sf_dir).collect()
    ]
    assert got == expect
    assert got and all(r[4] > 0 for r in got)


def test_seasonal_profile_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_timestamp,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type", F.hour(ts_timestamp()).alias("hod"), "value"
    ).collect()
    cells = {}
    for r in rows:
        k = (r["event_type"], r["hod"])
        s, n = cells.get(k, (0, 0))
        cells[k] = (s + round(r["value"] * 100), n + 1)
    totals = {}
    for (t, _), (s, n) in cells.items():
        ts_, tn = totals.get(t, (0, 0))
        totals[t] = (ts_ + s, tn + n)
    expect = {}
    for (t, h), (s, n) in cells.items():
        mm = s * 1000 // n
        tm = totals[t][0] * 1000 // totals[t][1]
        expect[(t, h)] = (n, mm, mm * 1_000_000 // tm)
    peaks = {}
    for (t, h), (_, mm, _) in expect.items():
        cur = peaks.get(t)
        if cur is None or (mm, h) > cur:
            peaks[t] = (mm, h)
    got = {
        (r["event_type"], r["hod"]): (
            r["n"], r["mean_milli"], r["lift_ppm"], r["is_peak_hour"]
        )
        for r in an.ts_seasonal_profile(spark, sf_dir).collect()
    }
    assert {k: v[:3] for k, v in got.items()} == expect
    for (t, h), (_, mm, _, pk) in got.items():
        assert pk == (peaks[t] == (mm, h))


def test_cusum_matches_sequential_recursion(spark, sf_dir):
    """The window identity s = cum - min(prefix cum, 0) must equal the
    literal Page recursion s_t = max(0, s_{t-1} + x_t - k)."""
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type", ts_micros().alias("us"), "event_id", "value"
    ).collect()
    by_t = {}
    for r in rows:
        by_t.setdefault(r["event_type"], []).append(
            (r["us"], r["event_id"], round(r["value"] * 1_000_000))
        )
    expect = {}
    for t, evs in by_t.items():
        evs.sort()
        s = 0
        n_alarm = 0
        mx = 0
        first = None
        for us, _, x in evs:
            s = max(0, s + x - an.CUSUM_K_MICRO)
            mx = max(mx, s)
            if s > an.CUSUM_H_MICRO:
                n_alarm += 1
                if first is None:
                    first = us
        expect[t] = (len(evs), n_alarm, mx, first)
    got = {
        r["event_type"]: (
            r["n_events"], r["n_alarms"], r["max_excursion"],
            r["first_alarm_us"],
        )
        for r in an.ts_cusum_alarm(spark, sf_dir).collect()
    }
    assert got == expect
    assert any(v[1] > 0 for v in got.values())  # detector actually fires


def test_weighted_median_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    ).collect()
    by_f = {}
    for r in rows:
        by_f.setdefault(r["l_returnflag"], []).append(
            (round(r["l_extendedprice"] * 100), int(r["l_quantity"]))
        )
    expect = {}
    for f, vals in by_f.items():
        vals.sort()
        tot = sum(w for _, w in vals)
        cum = 0
        med = None
        for c, w in vals:
            cum += w
            if 2 * cum >= tot:
                med = c
                break
        expect[f] = (med / 100.0, tot)
    got = {
        r["l_returnflag"]: (r["wmedian_price"], r["total_weight"])
        for r in an.agg_weighted_median(spark, sf_dir).collect()
    }
    assert got == expect


def test_seq_transition_matrix_vs_brute(spark, sf_dir):
    """Transition counts must equal a literal per-user adjacent-pair
    walk, and ppm rows must sum to ~1e6 per from_type."""
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "user_id", "event_type", ts_micros().alias("us"), "event_id"
    ).collect()
    by_u = {}
    for r in rows:
        by_u.setdefault(r["user_id"], []).append(
            (r["us"], r["event_id"], r["event_type"])
        )
    expect = {}
    for seq in by_u.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            expect[(a, b)] = expect.get((a, b), 0) + 1
    got = {
        (r["from_type"], r["to_type"]): (
            r["n_transitions"], r["row_total"], r["p_ppm"]
        )
        for r in an.seq_transition_matrix(spark, sf_dir).collect()
    }
    assert {k: v[0] for k, v in got.items()} == expect
    for (a, _), (n, tot, ppm) in got.items():
        assert tot == sum(v for (x, _), v in expect.items() if x == a)
        assert ppm == (n * 1_000_000) // tot
    # ppm floor-sums to within |types| of 1e6 per row
    from collections import defaultdict

    ppm_sum = defaultdict(int)
    for (a, _), (_, _, ppm) in got.items():
        ppm_sum[a] += ppm
    for a, s in ppm_sum.items():
        assert 1_000_000 - len(ppm_sum) * 2 <= s <= 1_000_000


def test_ts_autocorr_lag_vs_brute(spark, sf_dir):
    """r_sign/r2_ppm must equal an exact-integer Pearson on the
    brute-force daily-count series, and lag-0 self-correlation of a
    constant-free series is near 1e6 only when actually correlated."""
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("event_type", ts_micros().alias("us")).collect()
    daily = {}
    for r in rows:
        k = (r["event_type"], r["us"] // an.SEQ_DAY_US)
        daily[k] = daily.get(k, 0) + 1
    expect = {}
    types = sorted({t for t, _ in daily})
    for t in types:
        series = {d: x for (tt, d), x in daily.items() if tt == t}
        for lag in range(1, an.AUTOCORR_MAX_LAG + 1):
            pairs = [
                (x, series[d + lag])
                for d, x in series.items()
                if d + lag in series
            ]
            if not pairs:
                continue
            n = len(pairs)
            sx = sum(x for x, _ in pairs)
            sy = sum(y for _, y in pairs)
            sxx = sum(x * x for x, _ in pairs)
            syy = sum(y * y for _, y in pairs)
            sxy = sum(x * y for x, y in pairs)
            num = n * sxy - sx * sy
            denx = n * sxx - sx * sx
            deny = n * syy - sy * sy
            r2 = (
                (num * num * 1_000_000) // (denx * deny)
                if denx > 0 and deny > 0
                else None
            )
            sign = 0 if num == 0 else (1 if num > 0 else -1)
            expect[(t, lag)] = (n, sign, r2)
    got = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["r_sign"], r["r2_ppm"])
        for r in an.ts_autocorr_lag(spark, sf_dir).collect()
    }
    assert got == expect
    assert all(v[2] is None or v[2] <= 1_000_000 for v in got.values())


def test_agg_theil_sen_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("event_type", ts_micros().alias("us")).collect()
    daily = {}
    for r in rows:
        k = (r["event_type"], r["us"] // an.SEQ_DAY_US)
        daily[k] = daily.get(k, 0) + 1
    expect = {}
    for t in sorted({t for t, _ in daily}):
        series = sorted(
            (d, x) for (tt, d), x in daily.items() if tt == t
        )
        slopes = []
        for i, (di, xi) in enumerate(series):
            for dj, xj in series[i + 1:]:
                sign = 0 if xj == xi else (1 if xj > xi else -1)
                slopes.append(sign * ((abs(xj - xi) * 1_000_000) // (dj - di)))
        slopes.sort()
        n = len(slopes)
        lo = slopes[(n + 1) // 2 - 1]
        hi = slopes[(n + 2) // 2 - 1]
        expect[t] = (n, lo + hi)
    got = {
        r["event_type"]: (r["n_pairs"], r["slope_ppm_2x"])
        for r in an.agg_theil_sen(spark, sf_dir).collect()
    }
    assert got == expect


def test_ts_peak_prominence_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("event_type", ts_micros().alias("us")).collect()
    daily = {}
    for r in rows:
        k = (r["event_type"], r["us"] // an.SEQ_DAY_US)
        daily[k] = daily.get(k, 0) + 1
    expect = {}
    for (t, d), x in daily.items():
        nbr = max(
            (
                daily.get((t, d + o), 0)
                for o in range(-an.PEAK_RADIUS_DAYS, an.PEAK_RADIUS_DAYS + 1)
                if o != 0
            ),
            default=0,
        )
        if x > nbr:
            expect[(t, d)] = (x, nbr, x - nbr)
    got = {
        (r["event_type"], r["day"]): (r["x"], r["nbr_max"], r["margin"])
        for r in an.ts_peak_prominence(spark, sf_dir).collect()
    }
    assert got == expect
    assert got  # fixture series actually has local peaks


def test_gini_impurity_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(ts_micros().alias("us"), "event_type").collect()
    daily = {}
    for r in rows:
        d = r["us"] // an.SEQ_DAY_US
        daily.setdefault(d, {}).setdefault(r["event_type"], 0)
        daily[d][r["event_type"]] += 1
    expect = {}
    for d, counts in daily.items():
        tot = sum(counts.values())
        s2 = sum(v * v for v in counts.values())
        expect[d] = (
            tot, len(counts), ((tot * tot - s2) * 1_000_000) // (tot * tot)
        )
    got = {
        r["day"]: (r["n_events"], r["n_types"], r["gini_ppm"])
        for r in an.agg_gini_impurity(spark, sf_dir).collect()
    }
    assert got == expect
    # sanity: impurity bounded by 1 - 1/k
    for d, (_, k, g) in got.items():
        assert 0 <= g <= 1_000_000 - 1_000_000 // k


def test_seq_training_windows_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "user_id", ts_micros().alias("us"), "event_id", "event_type"
    ).collect()
    by_u = {}
    for r in rows:
        by_u.setdefault(r["user_id"], []).append(
            (r["us"], r["event_id"], r["event_type"])
        )
    expect = set()
    for u, seq in by_u.items():
        seq.sort()
        types = [t for _, _, t in seq]
        for pos in range(0, len(types) - an.SEQW_LEN, an.SEQW_STRIDE):
            expect.add((
                u, pos,
                ">".join(types[pos: pos + an.SEQW_LEN]),
                types[pos + an.SEQW_LEN],
            ))
    got = {
        (r["user_id"], r["win_start"], r["seq"], r["next_type"])
        for r in an.seq_training_windows(spark, sf_dir).collect()
    }
    assert got == expect
    assert got  # fixture users have >8-event histories


def test_anomaly_panel_equals_components(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an

    mad = {r["event_type"]: r["n_outliers"]
           for r in an.ts_anomaly_mad(spark, sf_dir).collect()}
    cusum = {r["event_type"]: r["n_alarms"]
             for r in an.ts_cusum_alarm(spark, sf_dir).collect()}
    peaks = {}
    for r in an.ts_peak_prominence(spark, sf_dir).collect():
        peaks[r["event_type"]] = peaks.get(r["event_type"], 0) + 1
    panel = an.pipeline_anomaly_panel(spark, sf_dir).collect()
    assert {r["event_type"] for r in panel} == set(mad)
    for r in panel:
        t = r["event_type"]
        assert r["mad_outliers"] == mad[t]
        assert r["cusum_alarms"] == cusum.get(t, 0)
        assert r["n_peak_days"] == peaks.get(t, 0)


def test_ab_test_report_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.functions.hashing import hash64
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    arms = {
        r["user_id"]: r["arm"]
        for r in ev.select("user_id").distinct().select(
            "user_id",
            F.pmod(
                hash64(F.concat(F.lit("ab#"), F.col("user_id").cast("string"))),
                F.lit(an.AB_VARIANTS),
            ).alias("arm"),
        ).collect()
    }
    rows = ev.select("user_id", "event_type", "value").collect()
    per_user = {}
    for r in rows:
        e = per_user.setdefault(r["user_id"], [0, 0, 0, 0])
        if r["event_type"] == "view":
            e[0] = 1
        if r["event_type"] == "purchase":
            e[1] = 1
            e[2] += round(r["value"] * 100)
            e[3] += 1
    agg = {}
    for u, (ex, cv, cents, nb) in per_user.items():
        a = agg.setdefault(arms[u], [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += ex
        a[2] += cv
        a[3] += cents
        a[4] += nb
    expect = {
        v: (
            n, ex, cv, (cv * 1_000_000) // ex,
            cents // nb if nb else None,
        )
        for v, (n, ex, cv, cents, nb) in agg.items()
    }
    got = {
        r["variant"]: (
            r["n_users"], r["n_exposed"], r["n_converted"], r["cvr_ppm"],
            r["mean_buy_cents"],
        )
        for r in an.ab_test_report(spark, sf_dir).collect()
    }
    assert got == expect
    assert set(got) == set(range(an.AB_VARIANTS))


def test_activity_streaks_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("user_id", ts_micros().alias("us")).collect()
    days = {}
    for r in rows:
        days.setdefault(r["user_id"], set()).add(r["us"] // an.SEQ_DAY_US)
    expect = {}
    for u, ds in days.items():
        ds = sorted(ds)
        streaks = []
        start = prev = ds[0]
        for d in ds[1:]:
            if d == prev + 1:
                prev = d
                continue
            streaks.append((prev - start + 1, start))
            start = prev = d
        streaks.append((prev - start + 1, start))
        best = max(l for l, _ in streaks)
        expect[u] = (
            len(ds), len(streaks), best,
            min(s for l, s in streaks if l == best),
        )
    got = {
        r["user_id"]: (
            r["n_active_days"], r["n_streaks"], r["max_streak"],
            r["max_streak_start"],
        )
        for r in an.ts_activity_streaks(spark, sf_dir).collect()
    }
    assert got == expect


def test_seq_top_paths_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "user_id", ts_micros().alias("us"), "event_id", "event_type"
    ).collect()
    by_u = {}
    for r in rows:
        by_u.setdefault(r["user_id"], []).append(
            (r["us"], r["event_id"], r["event_type"])
        )
    counts = {}
    for seq in by_u.values():
        seq.sort()
        ts_ = [t for _, _, t in seq]
        for i in range(len(ts_) - 2):
            p = ">".join(ts_[i: i + 3])
            counts[p] = counts.get(p, 0) + 1
    total = sum(counts.values())
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    expect = [
        (p, n, total, (n * 1_000_000) // total)
        for p, n in ranked[: an.PATHS_TOPK]
    ]
    got = [
        (r["path"], r["n"], r["total"], r["share_ppm"])
        for r in an.seq_top_paths(spark, sf_dir).collect()
    ]
    assert got == expect


def test_backtest_snaive_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("event_type", ts_micros().alias("us")).collect()
    daily = {}
    for r in rows:
        k = (r["event_type"], r["us"] // an.SEQ_DAY_US)
        daily[k] = daily.get(k, 0) + 1
    expect = {}
    for t in sorted({t for t, _ in daily}):
        series = {d: x for (tt, d), x in daily.items() if tt == t}
        es = en = n = 0
        for d, x in series.items():
            if d - 1 in series and d - 7 in series:
                n += 1
                es += abs(x - series[d - 7])
                en += abs(x - series[d - 1])
        if n:
            expect[t] = (
                n, (es * 1000) // n, (en * 1000) // n,
                (es * 1_000_000) // en if en else None,
            )
    got = {
        r["event_type"]: (
            r["n_backtest"], r["snaive_mae_e3"], r["naive_mae_e3"],
            r["skill_ppm"],
        )
        for r in an.ts_backtest_snaive(spark, sf_dir).collect()
    }
    assert got == expect


def test_cumulative_users_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("user_id", ts_micros().alias("us")).collect()
    ud = {(r["user_id"], r["us"] // an.SEQ_DAY_US) for r in rows}
    first = {}
    for u, d in ud:
        first[u] = min(first.get(u, d), d)
    days = sorted({d for _, d in ud})
    cum = 0
    expect = {}
    for d in days:
        act = sum(1 for _, dd in ud if dd == d)
        new = sum(1 for f in first.values() if f == d)
        cum += new
        expect[d] = (act, new, act - new, cum)
    got = {
        r["day"]: (r["n_active"], r["n_new"], r["n_returning"], r["cum_users"])
        for r in an.ts_cumulative_users(spark, sf_dir).collect()
    }
    assert got == expect
    assert list(got[max(got)])[3] == len(first)


def test_winsorized_mean_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).collect()
    by_t = {}
    for r in rows:
        by_t.setdefault(r["event_type"], []).append(
            round(r["value"] * 1_000_000)
        )
    expect = {}
    for t, vals in by_t.items():
        vals.sort()
        n = len(vals)

        def pick(pct):
            # least value whose cumulative count reaches ceil(n*pct/100)
            pos = -(-n * pct // 100)  # ceil
            return vals[pos - 1]

        lo, hi = pick(an.WINSOR_LO_PCT), pick(an.WINSOR_HI_PCT)
        wsum = sum(min(max(v, lo), hi) for v in vals)
        mean = wsum // n if wsum >= 0 else -((-wsum) // n)
        expect[t] = (n, lo, hi, mean)
    got = {
        r["event_type"]: (
            r["n_events"], r["p5_micro"], r["p95_micro"],
            r["winsor_mean_micro"],
        )
        for r in an.agg_winsorized_mean(spark, sf_dir).collect()
    }
    assert got == expect


def test_atr_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an

    bars = {}
    for r in an.ts_ohlc_bars(spark, sf_dir).collect():
        bars.setdefault(r["event_type"], []).append(
            (r["bar"], round(r["high"] * 100), round(r["low"] * 100),
             round(r["close"] * 100))
        )
    expect = {}
    for t, bs in bars.items():
        bs.sort()
        trs = []
        pc = None
        for _, h, l, c in bs:
            if pc is None:
                trs.append(h - l)
            else:
                trs.append(max(h - l, abs(h - pc), abs(l - pc)))
            pc = c
        expect[t] = (len(trs), max(trs), (sum(trs) * 1000) // len(trs))
    got = {
        r["event_type"]: (r["n_bars"], r["max_tr_cents"], r["atr_cents_e3"])
        for r in an.ts_atr_volatility(spark, sf_dir).collect()
    }
    assert got == expect


def test_funnel_latency_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "user_id", "event_type", ts_micros().alias("us")
    ).collect()
    v0 = {}
    buys = {}
    for r in rows:
        if r["event_type"] == "view":
            v0[r["user_id"]] = min(v0.get(r["user_id"], r["us"]), r["us"])
    for r in rows:
        if r["event_type"] == "purchase" and r["user_id"] in v0:
            if r["us"] >= v0[r["user_id"]]:
                u = r["user_id"]
                buys[u] = min(buys.get(u, r["us"]), r["us"])
    gaps = sorted(buys[u] - v0[u] for u in buys)
    n = len(gaps)

    def pick(mult_n, mult_p):
        cum = 0
        from collections import Counter

        for g, c in sorted(Counter(gaps).items()):
            cum += c
            if cum * mult_n >= n * mult_p:
                return g

    expect = (n, pick(2, 1), pick(10, 9))
    r = an.funnel_latency_quantiles(spark, sf_dir).collect()[0]
    assert (r["n_converters"], r["median_gap_us"], r["p90_gap_us"]) == expect
    assert r["median_gap_us"] <= r["p90_gap_us"]


def test_peak_attribution_consistent_with_peaks(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    peaks = {
        (r["event_type"], r["day"]): r["x"]
        for r in an.ts_peak_prominence(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type", "user_id", ts_micros().alias("us")
    ).collect()
    udc = {}
    for r in rows:
        k = (r["event_type"], r["us"] // an.SEQ_DAY_US, r["user_id"])
        udc[k] = udc.get(k, 0) + 1
    expect = {}
    for (t, d), total in peaks.items():
        cands = sorted(
            ((-n, u) for (tt, dd, u), n in udc.items()
             if tt == t and dd == d),
        )
        neg_n, u = cands[0]
        expect[(t, d)] = (total, u, -neg_n, ((-neg_n) * 1_000_000) // total)
    got = {
        (r["event_type"], r["day"]): (
            r["day_total"], r["top_user"], r["top_user_events"],
            r["top_share_ppm"],
        )
        for r in an.ts_peak_attribution(spark, sf_dir).collect()
    }
    assert got == expect


def test_rolling_anomaly_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("event_type", ts_micros().alias("us")).collect()
    daily = {}
    for r in rows:
        k = (r["event_type"], r["us"] // an.SEQ_DAY_US)
        daily[k] = daily.get(k, 0) + 1
    expect = {}
    for t in sorted({t for t, _ in daily}):
        series = {d: x for (tt, d), x in daily.items() if tt == t}
        for d, x in series.items():
            win = [series[dd] for dd in range(d - an.ROLL_WIN_DAYS, d)
                   if dd in series]
            n = len(win)
            if n < 3:
                continue
            s = sum(win)
            q = sum(v * v for v in win)
            dev2n2 = (n * x - s) ** 2
            varn2 = n * q - s * s
            if dev2n2 > an.ROLL_Z2 * varn2:
                expect[(t, d)] = (x, n, s, dev2n2, varn2)
    got = {
        (r["event_type"], r["day"]): (
            r["x"], r["n"], r["s"], r["dev2n2"], r["varn2"]
        )
        for r in an.ts_rolling_anomaly(spark, sf_dir).collect()
    }
    assert got == expect


def test_user_360_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "user_id", ts_micros().alias("us"), "event_id", "event_type",
        "value",
    ).collect()
    by_u = {}
    for r in rows:
        by_u.setdefault(r["user_id"], []).append(
            (r["us"], r["event_id"], r["event_type"], round(r["value"] * 100))
        )
    expect = {}
    for u, seq in by_u.items():
        seq.sort()
        sessions = 1
        for (a, _, _, _), (b, _, _, _) in zip(seq, seq[1:]):
            if b - a > an.SESSION_GAP_US_360:
                sessions += 1
        buys = [(c) for _, _, t, c in seq if t == "purchase"]
        expect[u] = (
            len(seq), sessions, len(buys), sum(buys),
            seq[0][0], seq[-1][0],
            len({us // 86_400_000_000 for us, _, _, _ in seq}),
        )
    got = {
        r["user_id"]: (
            r["n_events"], r["n_sessions"], r["n_purchases"], r["ltv_cents"],
            r["first_us"], r["last_us"], r["n_active_days"],
        )
        for r in an.mart_user_360(spark, sf_dir).collect()
    }
    assert got == expect


def test_weekend_lift_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("event_type", ts_micros().alias("us")).collect()
    daily = {}
    for r in rows:
        k = (r["event_type"], r["us"] // an.SEQ_DAY_US)
        daily[k] = daily.get(k, 0) + 1
    expect = {}
    for t in sorted({t for t, _ in daily}):
        we_e = we_d = wd_e = wd_d = 0
        for (tt, d), x in daily.items():
            if tt != t:
                continue
            if (d + 4) % 7 in (0, 6):
                we_e += x
                we_d += 1
            else:
                wd_e += x
                wd_d += 1
        lift = (
            (we_e * wd_d * 1_000_000) // (wd_e * we_d) if wd_e else None
        )
        expect[t] = (
            we_e, we_d, wd_e, wd_d,
            (we_e * 1000) // we_d, (wd_e * 1000) // wd_d, lift,
        )
    got = {
        r["event_type"]: (
            r["we_events"], r["we_days"], r["wd_events"], r["wd_days"],
            r["we_mean_e3"], r["wd_mean_e3"], r["weekend_lift_ppm"],
        )
        for r in an.ts_weekend_lift(spark, sf_dir).collect()
    }
    assert got == expect


def test_cohort_ltv_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "user_id", ts_micros().alias("us"), "event_type", "value"
    ).collect()
    first = {}
    for r in rows:
        w = r["us"] // an.WEEK_US
        first[r["user_id"]] = min(first.get(r["user_id"], w), w)
    cells = {}
    for r in rows:
        if r["event_type"] != "purchase":
            continue
        cw = first[r["user_id"]]
        age = r["us"] // an.WEEK_US - cw
        e = cells.setdefault((cw, age), [set(), 0])
        e[0].add(r["user_id"])
        e[1] += round(r["value"] * 100)
    expect = {}
    for cw in {c for c, _ in cells}:
        cum = 0
        for age in sorted(a for c, a in cells if c == cw):
            buyers, rev = cells[(cw, age)]
            cum += rev
            expect[(cw, age)] = (len(buyers), rev, cum)
    got = {
        (r["cohort_week"], r["age_weeks"]): (
            r["n_buyers"], r["revenue_cents"], r["cum_revenue_cents"]
        )
        for r in an.cohort_ltv_matrix(spark, sf_dir).collect()
    }
    assert got == expect


def test_changepoint_impact_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    alarms = {
        r["event_type"]: r["first_alarm_us"]
        for r in an.ts_cusum_alarm(spark, sf_dir).collect()
        if r["first_alarm_us"] is not None
    }
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type", ts_micros().alias("us"), "value"
    ).collect()
    expect = {}
    for t, cut in alarms.items():
        pre = [round(r["value"] * 1_000_000) for r in rows
               if r["event_type"] == t and r["us"] < cut]
        post = [round(r["value"] * 1_000_000) for r in rows
                if r["event_type"] == t and r["us"] >= cut]
        if not pre or not post:
            continue

        def sdiv(s, n):
            return s // n if s >= 0 else -((-s) // n)

        pm, qm = sdiv(sum(pre), len(pre)), sdiv(sum(post), len(post))
        expect[t] = (cut, len(pre), len(post), pm, qm, qm - pm)
    got = {
        r["event_type"]: (
            r["first_alarm_us"], r["n_pre"], r["n_post"],
            r["pre_mean_micro"], r["post_mean_micro"], r["delta_micro"],
        )
        for r in an.ts_changepoint_impact(spark, sf_dir).collect()
    }
    assert got == expect


def test_bounce_rate_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "user_id", ts_micros().alias("us"), "event_id"
    ).collect()
    by_u = {}
    for r in rows:
        by_u.setdefault(r["user_id"], []).append((r["us"], r["event_id"]))
    days = {}
    for u, seq in by_u.items():
        seq.sort()
        start = seq[0][0]
        size = 1
        for (a, _), (b, _) in zip(seq, seq[1:]):
            if b - a > an.SESSION_GAP_US_360:
                d = start // 86_400_000_000
                e = days.setdefault(d, [0, 0])
                e[0] += 1
                e[1] += int(size == 1)
                start, size = b, 1
            else:
                size += 1
        d = start // 86_400_000_000
        e = days.setdefault(d, [0, 0])
        e[0] += 1
        e[1] += int(size == 1)
    expect = {
        d: (n, b, (b * 1_000_000) // n) for d, (n, b) in days.items()
    }
    got = {
        r["day"]: (r["n_sessions"], r["n_bounces"], r["bounce_ppm"])
        for r in an.agg_bounce_rate(spark, sf_dir).collect()
    }
    assert got == expect


def test_fano_factor_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("event_type", ts_micros().alias("us")).collect()
    daily = {}
    for r in rows:
        k = (r["event_type"], r["us"] // an.SEQ_DAY_US)
        daily[k] = daily.get(k, 0) + 1
    expect = {}
    for t in sorted({t for t, _ in daily}):
        xs = [x for (tt, _), x in daily.items() if tt == t]
        n, s, q = len(xs), sum(xs), sum(x * x for x in xs)
        expect[t] = (n, s, ((n * q - s * s) * 1000) // (n * s))
    got = {
        r["event_type"]: (r["n_days"], r["s"], r["fano_e3"])
        for r in an.ts_fano_factor(spark, sf_dir).collect()
    }
    assert got == expect


def test_dominant_period_matches_acf(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an

    acf = an.ts_autocorr_lag(spark, sf_dir).collect()
    pos = {}
    for r in acf:
        if r["r_sign"] is not None and r["r_sign"] > 0 \
                and r["r2_ppm"] is not None:
            pos.setdefault(r["event_type"], []).append(
                (r["r2_ppm"], -r["lag"])
            )
    got = {
        r["event_type"]: (r["dominant_lag"], r["r2_ppm"], r["n_pos_lags"])
        for r in an.ts_dominant_period(spark, sf_dir).collect()
    }
    assert set(got) == {r["event_type"] for r in acf}
    for t, cands in pos.items():
        r2, neg = max(cands)
        assert got[t] == (-neg, r2, len(cands))
    for t in got:
        if t not in pos:
            assert got[t][0] is None


def test_dayn_retention_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import analytics as an
    from spark_streaming_stream_analyzer_spark.sources.tables import (
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("user_id", ts_micros().alias("us")).collect()
    ud = {}
    for r in rows:
        ud.setdefault(r["user_id"], set()).add(r["us"] // an.SEQ_DAY_US)
    n_users = len(ud)
    expect = {}
    for n in an.RETENTION_DAYS:
        ret = sum(1 for days in ud.values() if min(days) + n in days)
        expect[n] = (n_users, ret, (ret * 1_000_000) // n_users)
    got = {
        r["day_n"]: (r["n_users"], r["n_retained"], r["retained_ppm"])
        for r in an.ts_dayn_retention(spark, sf_dir).collect()
    }
    assert got == expect
