"""Warehouse-ops tests: histogram median, SCD2, DQ audit, skew
profile (operators/auditing.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_stream_analyzer_spark.operators import auditing as au
from spark_streaming_stream_analyzer_spark.sources.tables import load_table


def test_approx_median_within_half_bin(spark, sf_dir):
    approx = {r["event_type"]: r for r in au.approx_median_hist(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile(c, 0.5)").alias("med_c"),
            ((F.max("c") - F.min("c")) / au.HIST_BINS + 1).alias("w_ub"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for et, r in approx.items():
        err_cents = abs(r["approx_median"] * 100 - exact[et]["med_c"])
        assert err_cents <= exact[et]["w_ub"], et  # ≤ one bin width


def test_scd2_intervals_chain(spark, sf_dir):
    rows = au.scd2_intervals(spark, sf_dir).collect()
    assert rows
    by_user: dict[int, list] = {}
    for r in rows:
        assert r["user_id"] % au.SCD2_USER_MOD == 0
        by_user.setdefault(r["user_id"], []).append(r)
    for recs in by_user.values():
        recs.sort(key=lambda r: (r["valid_from_us"], r["event_id"]))
        for a, b in zip(recs, recs[1:]):
            assert a["valid_to_us"] == b["valid_from_us"]  # gap-free chain
        assert recs[-1]["valid_to_us"] is None  # open current row


def test_dq_audit_planted_orphan(spark):
    tables = {
        "lineitem": spark.createDataFrame(
            [(1, 10.0), (2, 10.0), (99, 10.0)], "l_orderkey long, l_quantity double"
        ),
        "orders": spark.createDataFrame(
            [(1, 5), (1, 5), (2, None)],
            "o_orderkey long, o_custkey int",
        ),
        "events": spark.createDataFrame(
            [(7, -1.0), (7, 2.0), (8, 2.0)], "event_id long, value double"
        ),
        "documents": spark.createDataFrame(
            [(1,), (1,), (2,)], "doc_id long"
        ),
    }
    orig = au.load_table
    au.load_table = lambda _s, _d, name: tables[name]
    try:
        out = {r["check_name"]: r for r in au.dq_constraint_audit(spark, "x").collect()}
    finally:
        au.load_table = orig
    assert out["lineitem_orphan_orderkey"]["n_violations"] == 1  # key 99
    assert out["orders_pk_unique"]["n_violations"] == 1          # dup key 1
    assert out["orders_custkey_not_null"]["n_violations"] == 1
    assert out["lineitem_quantity_range"]["n_violations"] == 0
    assert out["events_value_nonnegative"]["n_violations"] == 1
    assert out["documents_pk_unique"]["n_violations"] == 1       # dup doc 1
    assert out["events_pk_unique"]["n_violations"] == 1          # dup event 7
    assert out["lineitem_orphan_orderkey"]["n_checked"] == 3


def test_skew_profile_ordering(spark, sf_dir):
    rows = au.skew_key_profile(spark, sf_dir).collect()
    assert len(rows) == au.SKEW_TOP_K
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert 0 < sum(r["share"] for r in rows) < 1.0
    # deterministic tiebreak: equal counts ordered by key
    for a, b in zip(rows, rows[1:]):
        if a["cnt"] == b["cnt"]:
            assert a["o_custkey"] < b["o_custkey"]


def test_benford_vs_brute(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import auditing as au
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    prices = [
        r["o_totalprice"]
        for r in load_table(spark, sf_dir, "orders").collect()
    ]
    counts = {}
    for p in prices:
        d = int(str(round(p * 100))[0])
        counts[d] = counts.get(d, 0) + 1
    n = sum(counts.values())
    got = {r["digit"]: r for r in au.dq_benford(spark, sf_dir).collect()}
    assert {d: r["n_obs"] for d, r in got.items()} == counts
    for d, r in got.items():
        assert r["obs_ppm"] == counts[d] * 1_000_000 // n
        assert r["exp_ppm"] == au.BENFORD_PPM[d]
        assert r["dev_ppm"] == r["obs_ppm"] - r["exp_ppm"]
    # the ppm table is a (floor-truncated) probability distribution
    assert 999_990 <= sum(au.BENFORD_PPM.values()) <= 1_000_000


def _morton(x, y, bits):
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_stats_vs_brute(spark, sf_dir):
    from datetime import date

    from spark_streaming_stream_analyzer_spark.operators import auditing as au
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    ).collect()
    M = 1 << au.ZORDER_BITS
    buckets = {}
    for r in orders:
        x = r["o_custkey"] % M
        y = (r["o_orderdate"].date() - date(1970, 1, 1)).days % M
        b = _morton(x, y, au.ZORDER_BITS) >> au.ZBUCKET_SHIFT
        s = buckets.setdefault(b, [0, x, x, y, y])
        s[0] += 1
        s[1] = min(s[1], x)
        s[2] = max(s[2], x)
        s[3] = min(s[3], y)
        s[4] = max(s[4], y)
    got = {
        r["zbucket"]: [
            r["n_rows"], r["min_cust"], r["max_cust"],
            r["min_day"], r["max_day"],
        ]
        for r in au.layout_zorder_stats(spark, sf_dir).collect()
    }
    assert got == {b: list(v) for b, v in buckets.items()}
    # Morton guarantee: a z >> SHIFT bucket is a 2^ceil(S/2) x 2^(S//2)
    # tile, so every bucket's envelope is bounded per dimension —
    # rows inside a bucket agree on all higher interleaved bits
    x_tile = 1 << ((au.ZBUCKET_SHIFT + 1) // 2)
    y_tile = 1 << (au.ZBUCKET_SHIFT // 2)
    assert all(v[2] - v[1] < x_tile for v in got.values())
    assert all(v[4] - v[3] < y_tile for v in got.values())


def test_checksum_buckets_localize_a_diff(spark, sf_dir):
    """Digests must equal an independent fold, and a single-row edit
    must flip exactly the bucket containing that key."""
    import hashlib

    from spark_streaming_stream_analyzer_spark.operators import auditing as au
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate",
    ).collect()

    def h(r, price=None):
        p = r["o_totalprice"] if price is None else price
        s = "|".join([
            str(r["o_orderkey"]), str(r["o_custkey"]), r["o_orderstatus"],
            str(round(p * 100)), str(r["o_orderdate"].date()),
        ])
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def fold(rows, mutate_key=None):
        out = {}
        for r in rows:
            b = r["o_orderkey"] // au.CKSUM_BUCKET
            price = 9.99 if r["o_orderkey"] == mutate_key else None
            n, d = out.get(b, (0, 0))
            out[b] = (n + 1, d ^ h(r, price))
        return out

    expect = fold(rows)
    got = {
        r["bucket"]: (r["n_rows"], r["digest"])
        for r in au.dq_checksum_buckets(spark, sf_dir).collect()
    }
    assert got == expect
    # reconciliation property: one mutated row -> exactly one bucket diff
    key = rows[0]["o_orderkey"]
    mutated = fold(rows, mutate_key=key)
    diff = [b for b in expect if expect[b] != mutated[b]]
    assert diff == [key // au.CKSUM_BUCKET]


def test_column_profile_vs_pandas(spark, sf_dir):
    """Profile rows must equal a pandas-side profile of the same
    parquet, including the per-type exact min/max rendering."""
    import pandas as pd

    from spark_streaming_stream_analyzer_spark.operators import auditing as au

    pdf = pd.read_parquet(f"{sf_dir}/events.parquet")
    got = {
        r["col_name"]: (
            r["n_rows"], r["n_null"], r["n_distinct"], r["min_s"], r["max_s"]
        )
        for r in au.dq_column_profile(spark, sf_dir).collect()
    }
    assert set(got) == {c for c, _ in au._PROFILE_COLS}
    n = len(pdf)
    for col, _ in au._PROFILE_COLS:
        s = pdf[col]
        if col == "value":
            mn = str(round(s.min() * 100))
            mx = str(round(s.max() * 100))
        else:
            mn, mx = str(s.min()), str(s.max())
        assert got[col] == (n, int(s.isna().sum()), s.nunique(), mn, mx)


def test_distribution_drift_shares_sum(spark, sf_dir):
    """Each half's share ppms floor-sum to ~1e6 and deltas cancel to
    within rounding; counts reconstruct the table total."""
    from spark_streaming_stream_analyzer_spark.operators import auditing as au
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    rows = au.dq_distribution_drift(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r["ref_n"] + r["cur_n"] for r in rows) == n_events
    for side in ("ref_ppm", "cur_ppm"):
        s = sum(r[side] for r in rows)
        assert 1_000_000 - 2 * len(rows) <= s <= 1_000_000
    for r in rows:
        assert r["delta_ppm"] == r["cur_ppm"] - r["ref_ppm"]
        assert r["drift_alert"] == int(abs(r["delta_ppm"]) > au.DRIFT_ALERT_PPM)


def test_bloom_portable_no_false_negatives(spark, sf_dir):
    """Present words must always hit k-of-k; absent nonsense words
    should (at this fill level) miss; popcount <= k * vocab."""
    from spark_streaming_stream_analyzer_spark.operators import auditing as au
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select(
        "source", "text"
    ).collect()
    vocab = {}
    for r in rows:
        vocab.setdefault(r["source"], set()).update(
            t for t in r["text"].split(" ") if t
        )
    got = {
        (r["source"], r["probe"]): (
            r["popcount"], r["n_bits_hit"], r["maybe_present"]
        )
        for r in au.fn_bloom_portable(spark, sf_dir).collect()
    }
    assert {s for s, _ in got} == set(vocab)
    for (s, p), (pop, hit, maybe) in got.items():
        assert pop <= au.BLOOM_K * len(vocab[s])
        assert maybe == int(hit == au.BLOOM_K)
        if p in vocab[s]:
            assert maybe == 1  # Bloom guarantees no false negatives
    # at least one genuinely-absent probe misses somewhere
    assert any(
        m == 0
        for (s, p), (_, _, m) in got.items()
        if p not in vocab[s]
    )


def test_relationship_profile_vs_brute(spark, sf_dir):
    from collections import Counter

    from spark_streaming_stream_analyzer_spark.operators import auditing as au
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    cases = {
        "orders.o_custkey->customer": ("orders", "o_custkey",
                                       "customer", "c_custkey"),
        "lineitem.l_orderkey->orders": ("lineitem", "l_orderkey",
                                        "orders", "o_orderkey"),
        "lineitem.l_partkey->part": ("lineitem", "l_partkey",
                                     "part", "p_partkey"),
        "lineitem.l_suppkey->supplier": ("lineitem", "l_suppkey",
                                         "supplier", "s_suppkey"),
    }
    got = {r["relation"]: r for r in
           au.dq_relationship_profile(spark, sf_dir).collect()}
    assert set(got) == set(cases)
    for name, (child, fk, parent, pk) in cases.items():
        fans = Counter(
            r[fk] for r in load_table(spark, sf_dir, child).select(fk).collect()
        )
        parents = {
            r[pk] for r in load_table(spark, sf_dir, parent).select(pk).collect()
        }
        r = got[name]
        assert r["n_child_rows"] == sum(fans.values())
        assert r["n_parents_referenced"] == sum(
            1 for k in fans if k in parents
        )
        assert r["n_orphan_rows"] == sum(
            n for k, n in fans.items() if k not in parents
        )
        assert r["max_fanout"] == max(fans.values())
        assert r["mean_fanout_e3"] == (sum(fans.values()) * 1000) // len(fans)


def test_kanon_no_small_cells_and_conservation(spark, sf_dir):
    from spark_streaming_stream_analyzer_spark.operators import auditing as au
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    rows = au.privacy_kanon_cells(spark, sf_dir).collect()
    assert rows and all(r["n"] >= au.KANON_K for r in rows)
    # released + suppressed rows reconstruct the table total
    released = sum(r["n"] for r in rows)
    supp = {}
    for r in rows:
        supp[(r["event_type"], r["day"])] = r["n_suppressed_rows"]
    # (type, day) groups with ONLY suppressed cells are absent from the
    # output — recount directly
    ev = load_table(spark, sf_dir, "events").count()
    assert released <= ev
    from collections import Counter

    raw = Counter()
    from spark_streaming_stream_analyzer_spark.sources.tables import ts_micros

    evdf = load_table(spark, sf_dir, "events")
    for r in evdf.select(
        "event_type", ts_micros().alias("us"), "user_id"
    ).collect():
        raw[
            (r["event_type"], r["us"] // 86_400_000_000,
             r["user_id"] // au.KANON_BUCKET)
        ] += 1
    expect_released = sum(n for n in raw.values() if n >= au.KANON_K)
    assert released == expect_released


def test_rounding_audit_policies_differ_only_at_halves(spark, sf_dir):
    import decimal

    from spark_streaming_stream_analyzer_spark.operators import auditing as au
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).collect()
    from collections import defaultdict

    exp = defaultdict(lambda: [0, 0, 0, 0])
    for r in rows:
        v = r["value"]
        x = v * 100
        import math

        hu = int(math.copysign(math.floor(abs(x) + 0.5), x))
        if v * 200 == math.floor(v * 200) and int(math.floor(v * 200)) % 2 == 1 \
                and hu % 2 != 0:
            be = hu - (1 if v > 0 else -1 if v < 0 else 0)
        else:
            be = hu
        e = exp[r["event_type"]]
        e[0] += 1
        e[1] += int(hu != be)
        e[2] += hu
        e[3] += be
    got = {
        r["event_type"]: (
            r["n_rows"], r["n_diff"], r["sum_half_up"], r["sum_bankers"],
            r["drift_cents"],
        )
        for r in au.fn_rounding_audit(spark, sf_dir).collect()
    }
    assert got == {
        t: (n, d, shu, sbe, shu - sbe) for t, (n, d, shu, sbe) in exp.items()
    }


def test_pipeline_fingerprint_detects_any_row_change(spark, sf_dir):
    """The digest must be row-order-free AND flip when one value
    changes — the two properties a version manifest exists for."""
    import hashlib

    from spark_streaming_stream_analyzer_spark.operators import auditing as au
    from spark_streaming_stream_analyzer_spark.sources.tables import load_table

    rows = {r["table_name"]: (r["n_rows"], r["digest"])
            for r in au.dq_pipeline_fingerprint(spark, sf_dir).collect()}
    assert set(rows) == {t for t, _, _ in au._MANIFEST_TABLES}
    # python recomputation of one small table proves the digest scheme
    reg = load_table(spark, sf_dir, "region").collect()

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    digest = 0
    for r in reg:
        digest ^= h64(f"{r['r_regionkey']}|{r['r_name']}")
    assert rows["region"] == (len(reg), digest)
    # a one-value perturbation flips the digest
    d2 = 0
    for i, r in enumerate(reg):
        name = r["r_name"] + ("x" if i == 0 else "")
        d2 ^= h64(f"{r['r_regionkey']}|{name}")
    assert d2 != digest


def test_rounding_oracle_handles_negative_exact_halves():
    """The SQL's odd test must be sign-safe: DuckDB's % keeps the
    dividend's sign (-25 % 2 = -1), so `% 2 = 1` silently skipped the
    half-even branch for every NEGATIVE exact half (value = -0.125
    kept half-up -13 instead of banker's -12) while Spark's pmod and
    the Python floor-mod reference both fired it. The fixture has no
    negative halves, so only a synthetic frame exercises this."""
    import math

    import duckdb
    import pandas as pd

    from spark_streaming_stream_analyzer_spark.operators import auditing as au

    # eighths are exactly representable, so value*200 is an exact int
    vals = [-0.125, 0.125, -0.375, 0.375, -0.625, -0.25, 0.25, 0.1]
    df = pd.DataFrame({"event_type": ["t"] * len(vals), "value": vals})
    con = duckdb.connect()
    con.register("events", df)
    row = con.execute(au.FN_ROUNDING_SQL).df().iloc[0]

    n_diff, s_hu, s_be = 0, 0, 0
    for v in vals:
        x = v * 100
        hu = int(math.copysign(math.floor(abs(x) + 0.5), x))
        if v * 200 == math.floor(v * 200) \
                and int(math.floor(v * 200)) % 2 == 1 and hu % 2 != 0:
            be = hu - (1 if v > 0 else -1 if v < 0 else 0)
        else:
            be = hu
        n_diff += int(hu != be)
        s_hu += hu
        s_be += be
    assert n_diff > 0  # the negative halves actually hit the branch
    assert (row["n_rows"], row["n_diff"]) == (len(vals), n_diff)
    assert (row["sum_half_up"], row["sum_bankers"]) == (s_hu, s_be)
    assert row["drift_cents"] == s_hu - s_be
