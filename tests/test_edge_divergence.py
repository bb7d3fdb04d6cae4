"""Engine-parity regression tests on crafted edge-case fixtures.

Round-7 review found six Spark-vs-DuckDB divergences that the driver
fixtures can never exercise (all-NULL window tails, zero-group
denominators under Spark 4's default ANSI mode — where integer DIV 0
and double /0.0 THROW while DuckDB's // and / yield NULL). Each test
here writes a tiny synthetic parquet shaped to hit one edge, runs the
operator AND its DuckDB oracle on the same file, and asserts exact
agreement — the selfcheck compare, on data the fixtures don't have.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest


def _write_events(tmp_path, rows):
    """rows: list of (event_id, ts_iso, user_id, event_type, value)."""
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    df["props"] = "{}"
    df = df[["event_id", "ts", "user_id", "event_type", "value", "props"]]
    p = tmp_path / "events.parquet"
    df.to_parquet(p, index=False)
    return str(tmp_path)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.copy()
    for c in out.columns:
        out[c] = out[c].map(repr)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def _compare(spark_df, sql: str, sf_dir: str, table: str = "events"):
    sdf = spark_df.toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM "
        f"read_parquet('{sf_dir}/{table}.parquet')"
    )
    odf = con.execute(sql).df()
    assert _canon(sdf).equals(_canon(odf)), (
        f"engine divergence:\nspark=\n{sdf}\noracle=\n{odf}"
    )
    return sdf


def test_seq_pattern_zero_row_for_all_null_hit_user(spark, tmp_path):
    """A user whose every row has NULL hit (trailing lead() rows) must
    aggregate to n_matches = 0, matching the oracle's SUM(CASE...)."""
    from spark_streaming_stream_analyzer_spark.operators import analytics as an

    sf = _write_events(
        tmp_path,
        [
            (1, "2024-01-01 10:00:00", 1, "view", 1.0),  # lone view: NULL hit
            (2, "2024-01-01 10:00:00", 2, "view", 1.0),  # full triple
            (3, "2024-01-01 10:00:10", 2, "click", 1.0),
            (4, "2024-01-01 10:00:20", 2, "purchase", 1.0),
        ],
    )
    got = _compare(an.seq_pattern_triples(spark, sf), an.SEQ_PATTERN_SQL, sf)
    by_user = {r.user_id: r.n_matches for r in got.itertuples()}
    assert by_user[1] == 0  # a zero, not NULL/None
    assert by_user[2] == 1


def test_ab_test_report_survives_zero_exposed_variant(spark, tmp_path):
    """Variants with no exposed (viewing) users must yield NULL
    cvr_ppm, not an ANSI DIVIDE_BY_ZERO crash."""
    from spark_streaming_stream_analyzer_spark.operators import analytics as an

    # purchase-only users: whichever variants they hash into have
    # n_exposed = 0, so every cvr_ppm row exercises the guard
    sf = _write_events(
        tmp_path,
        [
            (i, "2024-01-01 10:00:00", 100 + i, "purchase", 5.0)
            for i in range(8)
        ],
    )
    got = _compare(an.ab_test_report(spark, sf), an.AB_TEST_SQL, sf)
    assert (got["n_exposed"] == 0).all()
    assert got["cvr_ppm"].isna().all()


def test_regression_trend_single_hour_type_yields_null_slope(spark, tmp_path):
    """An event_type whose rows share one epoch-hour has var(x) = 0:
    slope/intercept/r2 must be NULL in both engines, not a crash."""
    from spark_streaming_stream_analyzer_spark.operators import analytics as an

    sf = _write_events(
        tmp_path,
        [
            (1, "2024-01-01 10:05:00", 1, "burst", 1.00),
            (2, "2024-01-01 10:25:00", 2, "burst", 2.00),
            (3, "2024-01-01 10:45:00", 3, "burst", 3.00),
            (4, "2024-01-01 09:00:00", 1, "trend", 1.00),
            (5, "2024-01-01 11:00:00", 2, "trend", 3.00),
        ],
    )
    got = _compare(
        an.agg_regression_trend(spark, sf), an.AGG_REGRESSION_SQL, sf
    )
    rows = {r.event_type: r for r in got.itertuples()}
    assert pd.isna(rows["burst"].slope_per_hour)
    assert pd.isna(rows["burst"].r2)
    assert rows["trend"].slope_per_hour == pytest.approx(1.0)


def test_weekend_lift_weekday_only_span_yields_nulls(spark, tmp_path):
    """A span with no weekend days zeroes we_days: the weekend mean and
    lift must be NULL in both engines, not an ANSI crash."""
    from spark_streaming_stream_analyzer_spark.operators import analytics as an

    # 2024-01-01 is a Monday; Mon-Wed only
    sf = _write_events(
        tmp_path,
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-02 10:00:00", 1, "click", 1.0),
            (3, "2024-01-03 10:00:00", 2, "click", 1.0),
        ],
    )
    got = _compare(an.ts_weekend_lift(spark, sf), an.TS_WEEKEND_SQL, sf)
    row = got.iloc[0]
    assert row["we_days"] == 0
    assert pd.isna(row["we_mean_e3"])
    assert pd.isna(row["weekend_lift_ppm"])
    assert row["wd_mean_e3"] == 1000


def test_seasonal_profile_zero_mean_type_yields_null_lift(spark, tmp_path):
    """An all-zero-valued event_type has type mean 0: every cell's
    lift_ppm must be NULL in both engines, not a crash."""
    from spark_streaming_stream_analyzer_spark.operators import analytics as an

    sf = _write_events(
        tmp_path,
        [
            (1, "2024-01-01 10:00:00", 1, "zero", 0.0),
            (2, "2024-01-01 11:00:00", 2, "zero", 0.0),
            (3, "2024-01-01 10:00:00", 1, "paid", 2.0),
        ],
    )
    got = _compare(
        an.ts_seasonal_profile(spark, sf), an.TS_SEASONAL_SQL, sf
    )
    zero = got[got.event_type == "zero"]
    assert len(zero) == 2 and zero["lift_ppm"].isna().all()
    paid = got[got.event_type == "paid"]
    assert (paid["lift_ppm"] == 1_000_000).all()


def test_corr_covar_single_row_group_yields_null(spark, tmp_path):
    """A single-row l_returnflag group zeroes covar's n-1 denominator:
    NULL in both engines, not an ANSI crash."""
    from spark_streaming_stream_analyzer_spark.operators import relational as rl

    li = pd.DataFrame(
        {
            "l_returnflag": ["A", "A", "B"],
            "l_quantity": [1.0, 2.0, 5.0],
            "l_extendedprice": [10.0, 20.0, 50.0],
        }
    )
    li.to_parquet(tmp_path / "lineitem.parquet", index=False)
    got = _compare(
        rl.agg_corr_covar(spark, str(tmp_path)),
        rl.AGG_CORR_SQL,
        str(tmp_path),
        table="lineitem",
    )
    rows = {r.l_returnflag: r for r in got.itertuples()}
    assert pd.isna(rows["B"].covar_qty_price)
    assert pd.isna(rows["B"].corr_qty_price)
    assert rows["A"].covar_qty_price == pytest.approx(5.0)


def _write_docs(tmp_path, rows):
    """rows: list of (doc_id, text, lang, source)."""
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    df["n_chars"] = df["text"].str.len().astype("int64")
    df.to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


def test_oov_rate_empty_doc_yields_null_not_crash(spark, tmp_path):
    """A zero-token document must produce a NULL oov_ppm row in both
    engines — never an ANSI DIVIDE_BY_ZERO that kills the corpus job
    (the textstats module invariant)."""
    from spark_streaming_stream_analyzer_spark.operators import textstats as tx

    sf = _write_docs(
        tmp_path,
        [
            (1, "the cat sat on the mat", "en", "web"),
            (2, "", "en", "web"),
            (3, "   ", "en", "web"),
        ],
    )
    got = _compare(
        tx.text_oov_rate(spark, sf), tx.TEXT_OOV_SQL, sf, table="documents"
    )
    rows = {r.doc_id: r for r in got.itertuples()}
    assert rows[1].n_tokens == 6 and rows[1].oov_ppm == 0
    for d in (2, 3):
        assert rows[d].n_tokens == 0
        assert pd.isna(rows[d].oov_ppm)


def test_funnel_dedup_gate_ranks_among_survivors(spark, tmp_path):
    """The dedup gate must rank among gate-2 SURVIVORS: a copy that
    already failed the language gate must not shadow the first
    surviving copy of the same text."""
    from spark_streaming_stream_analyzer_spark.operators import curation as cu

    text = "the quick brown fox jumps over the lazy dog"
    sf = _write_docs(
        tmp_path,
        [
            (1, text, "zh", "web"),   # fails lang gate, lowest doc_id
            (2, text, "en", "web"),   # first SURVIVING copy: must pass
            (3, text, "en", "web"),   # true duplicate of a survivor
        ],
    )
    got = _compare(
        cu.curation_funnel_report(spark, sf),
        cu.CURATION_FUNNEL_SQL,
        sf,
        table="documents",
    )
    by_gate = {r.gate: r for r in got.itertuples()}
    # doc 2 survives the dedup gate (doc 1 failed earlier, cannot
    # shadow it); doc 3 is the one true dup dropped
    assert by_gate["dedup_exact"].n_in == 2
    assert by_gate["dedup_exact"].n_pass == 1
    assert by_gate["has_stopword"].n_pass == 1


def test_schema_drift_parts_recipe(spark, tmp_path):
    """Documented ENGINE contract for SCHEMA-DRIFTED parquet parts (a
    column added partway through a 100 TB table's life). Defaults
    DIVERGE: Spark resolves the directory schema from one footer and
    DuckDB's plain read_parquet takes the FIRST file's — either way a
    later-added column can silently vanish, and DuckDB hard-errors
    when a later part is MISSING a first-file column. The recipe is
    explicit on both sides — Spark ``mergeSchema=true``, DuckDB
    ``union_by_name=true`` — under which both engines union the
    columns and read missing cells as NULL. This pin keeps the
    multifile fixtures on the same-schema precondition honestly: the
    standing MULTIFILE sweep slices ONE schema; drifted layouts are
    in-contract only through this recipe."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "t.parquet"
    os.makedirs(d)
    pq.write_table(
        pa.table({"a": [1, 2]}), str(d / "part-00000.parquet")
    )
    pq.write_table(
        pa.table({"a": [3], "b": ["x"]}), str(d / "part-00001.parquet")
    )

    sdf = (
        spark.read.option("mergeSchema", "true")
        .parquet(str(d))
        .toPandas()
        .sort_values("a")
        .reset_index(drop=True)
    )
    assert list(sdf.columns) == ["a", "b"]
    assert sdf["b"].tolist()[:2] == [None, None] and sdf["b"][2] == "x"

    con = duckdb.connect()
    # plain glob read takes the FIRST file's schema: a column added in
    # later parts is silently DROPPED (the dangerous default — no
    # error, missing data), and a column REMOVED in later parts is a
    # hard IO error — the divergence from the recipe is real both ways
    plain = con.execute(
        f"SELECT * FROM read_parquet('{d}/*.parquet')"
    ).df()
    assert list(plain.columns) == ["a"]
    d2 = tmp_path / "t2.parquet"
    os.makedirs(d2)
    pq.write_table(
        pa.table({"a": [1], "b": ["y"]}), str(d2 / "part-00000.parquet")
    )
    pq.write_table(pa.table({"a": [2]}), str(d2 / "part-00001.parquet"))
    with pytest.raises(duckdb.Error):
        con.execute(f"SELECT * FROM read_parquet('{d2}/*.parquet')").df()
    odf = (
        con.execute(
            f"SELECT * FROM read_parquet('{d}/*.parquet',"
            " union_by_name=true) ORDER BY a"
        )
        .df()
        .reset_index(drop=True)
    )
    assert list(odf.columns) == ["a", "b"]
    assert pd.isna(odf["b"][0]) and pd.isna(odf["b"][1]) and odf["b"][2] == "x"
    # the recipe agrees cell-for-cell
    assert sdf["a"].tolist() == odf["a"].astype(int).tolist()


# ----------------------------------------------------------------------
# try_variant_get coercion matrix for the NON-int target types
# (round-13 probe): the r12 JSONNEST matrix
# pinned only 'int'. No registered kernel extracts double/string/
# boolean YET — this pin is the knowledge contract a future kernel
# inherits, and it fails loudly if a Spark upgrade shifts the
# semantics. Measured classes a naive DuckDB TRY_CAST mirror gets
# WRONG:
#   * boolean JSON -> 'double': Spark true/false -> 1.0/0.0; DuckDB
#     TRY_CAST('true' AS DOUBLE) -> NULL.
#   * number JSON -> 'string': Spark RE-RENDERS the parsed value
#     (1e308 -> '1.0E308', -0.0 -> '0', canonical form), DuckDB
#     json_extract_string preserves the raw text.
#   * number JSON -> 'boolean': Spark truthiness (nonzero -> true,
#     0/-0.0 -> false, 2.75 -> true); DuckDB TRY_CAST via text -> NULL.
#   * JSON -0.0 -> 'double': Spark loses the sign (+0.0); DuckDB
#     keeps -0.0.
# String-typed sources agree everywhere measured ("2.25"/"2e1"/
# "NaN"/"Infinity" parse as doubles in both; 'true'/'TRUE'/'1' as
# booleans in both; '0x10'/'abc'/'' are NULL in both).
# ----------------------------------------------------------------------

VARIANT_COERCION_MATRIX = [
    # (json value text, double, string, boolean) — Spark semantics
    ('"2.25"', 2.25, "2.25", None),
    ('"2e1"', 20.0, "2e1", None),
    ('"0x10"', None, "0x10", None),
    ('" 7 "', 7.0, " 7 ", None),
    ('"true"', None, "true", True),
    ('"TRUE"', None, "TRUE", True),
    ('"1"', 1.0, "1", True),
    ('"abc"', None, "abc", None),
    ("2.75", 2.75, "2.75", True),
    ("-2.5", -2.5, "-2.5", True),
    ("-0.0", 0.0, "0", False),
    ("1e308", 1e308, "1.0E308", True),
    ("1e309", float("inf"), "Infinity", True),
    ("true", 1.0, "true", True),
    ("false", 0.0, "false", False),
    ("null", None, None, None),
    ("[1]", None, "[1]", None),
    ('{"a":1}', None, '{"a":1}', None),
    ('"NaN"', float("nan"), "NaN", None),
    ('"Infinity"', float("inf"), "Infinity", None),
]


def test_variant_coercion_matrix_noninteger_targets(spark):
    import math

    import pyspark.sql.functions as F

    rows = [(i, '{"k": %s}' % v) for i, (v, _, _, _) in
            enumerate(VARIANT_COERCION_MATRIX)]
    df = spark.createDataFrame(rows, "i int, props string")
    v = F.try_parse_json("props")
    got = (
        df.select(
            "i",
            F.try_variant_get(v, "$.k", "double").alias("d"),
            F.try_variant_get(v, "$.k", "string").alias("s"),
            F.try_variant_get(v, "$.k", "boolean").alias("b"),
        )
        .orderBy("i")
        .collect()
    )
    for r, (val, ed, es, eb) in zip(got, VARIANT_COERCION_MATRIX):
        if ed is not None and isinstance(ed, float) and math.isnan(ed):
            assert r.d is not None and math.isnan(r.d), f"{val}: d={r.d!r}"
        else:
            assert r.d == ed, f"{val}: double {r.d!r} != {ed!r}"
        assert r.s == es, f"{val}: string {r.s!r} != {es!r}"
        assert r.b == eb, f"{val}: boolean {r.b!r} != {eb!r}"


# ----------------------------------------------------------------------
# TPCHADV boundary pins (round-13 second probe):
# the relational tier has NO events-style ingest contract, and the
# probe measured the consequences — 25 of 42 money/date-reading
# queries fail or diverge under hostile magnitudes/dates. The classes:
#   * KILL (fail-fast, OUTCOME PARITY): one 1e300 / Inf / near-2^63/100
#     value ANSI-kills every exact-cents aggregate in BOTH engines
#     (Spark CAST_OVERFLOW / NUMERIC_VALUE_OUT_OF_RANGE; DuckDB
#     conversion error) — no wrong answers, but one hostile row kills
#     the job, the exact class EVENT_VALUE_ABS_MAX closed for events.
#   * SILENT DIVERGENCE: NaN-in-percentile (Spark sorts NaN greatest,
#     DuckDB's median ignores it), >4-digit-year date RENDERING
#     (Spark '+10000-01-30' vs DuckDB '10000-01-30'), huge-double
#     bucket casts (z-order), Benford digit extraction on NaN/Inf.
# Resolution is PENDING, not landed: the lockstep contract changes
# 65 oracle texts in one step (README verified-boundaries carries the
# interim precondition). These pins hold the measured behavior in
# place until then; the contract change REPLACES the divergence pins
# with parity.
# ----------------------------------------------------------------------


def _hostile_lineitem_dir(tmp_path):
    import numpy as np

    n = 40
    df = pd.DataFrame({
        "l_orderkey": np.arange(1, n + 1, dtype="int64"),
        "l_partkey": np.ones(n, dtype="int64"),
        "l_suppkey": np.ones(n, dtype="int64"),
        "l_linenumber": np.ones(n, dtype="int32"),
        "l_quantity": np.full(n, 10.0),
        "l_extendedprice": np.full(n, 1000.0),
        "l_discount": np.full(n, 0.05),
        "l_tax": np.full(n, 0.02),
        "l_returnflag": ["N"] * n,
        "l_linestatus": ["O"] * n,
        "l_shipdate": pd.to_datetime(["1995-06-01"] * n).astype(
            "datetime64[us]"
        ),
    })
    df.loc[0, "l_extendedprice"] = 1e300  # the one hostile row
    p = tmp_path / "lineitem.parquet"
    df.to_parquet(p, index=False)
    return str(tmp_path)


def test_tpch_money_overflow_fails_fast_in_both_engines(spark, tmp_path):
    """The KILL class has outcome parity: both engines refuse the
    1e300 price rather than returning different numbers. (The r14
    contract converts the kill into a NULLed measurement, lockstep.)"""
    from spark_streaming_stream_analyzer_spark import registry

    d = _hostile_lineitem_dir(tmp_path)
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE|CAST_OVERFLOW|Arithmetic"):
        registry.QUERIES["q1_pricing_summary"](spark, d).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT *"
        f" FROM read_parquet('{d}/lineitem.parquet')"
    )
    with pytest.raises(Exception):
        con.execute(registry.ORACLES["q1_pricing_summary"]).df()


def test_tpch_nan_percentile_divergence_pinned(spark):
    """NaN inside an exact percentile diverges the engines (probed:
    percentile_exact read 26.0 vs 25.0 on the hostile fixture's R
    group). Spark is DETERMINISTIC — percentile sorts NaN as the
    greatest value ({NaN,1,2,3,4} -> 3.0) — while DuckDB's
    quantile_cont over NaN-containing doubles is PATH-INCONSISTENT
    (measured: NaN via a VALUES scan, 3.0 via a parquet scan of the
    same set, NaN-excluded placement on the probe fixture), i.e. an
    unstable comparator, so only the Spark side is pinnable. The r14
    ingest contract (NaN measurement -> NULL) removes NaN before any
    percentile on both engines, closing the class at the root."""
    import math

    sdf = spark.createDataFrame(
        [(float("nan"),), (1.0,), (2.0,), (3.0,), (4.0,)], "q double"
    )
    s = sdf.selectExpr("percentile(q, 0.5) AS m").collect()[0].m
    assert s == 3.0, f"Spark NaN-greatest percentile moved: {s!r}"
    sdf2 = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (float("nan"),), (100.0,)], "q double"
    )
    s2 = sdf2.selectExpr("percentile(q, 0.5) AS m").collect()[0].m
    assert s2 == 3.0, f"Spark NaN-greatest percentile moved: {s2!r}"


def test_tpch_wide_year_render_divergence_pinned(spark):
    """Dates past 9999-12-31 exist in both engines, but Spark renders
    the year with an explicit '+' ('+10000-01-30') while DuckDB does
    not ('10000-01-30') — any date-arithmetic kernel whose result is
    string-cast diverges once a hostile input date crosses year 9999
    (probed: date_funcs on a 9999-12-31 shipdate + 30 days)."""
    s = spark.sql(
        "SELECT CAST(DATE'9999-12-31' + INTERVAL 30 DAYS AS STRING) AS d"
    ).collect()[0].d
    d = duckdb.connect().execute(
        "SELECT CAST(TIMESTAMP '9999-12-31' + INTERVAL 30 DAY AS VARCHAR)"
    ).fetchone()[0]
    assert s.startswith("+10000"), f"Spark rendering moved: {s!r}"
    assert d.startswith("10000"), f"DuckDB rendering moved: {d!r}"


def test_lower_casemap_divergence_pinned(spark):
    """Unicode SpecialCasing diverges the engines' lower(): Java
    applies the full mappings — İ (U+0130) → 'i' + U+0307, word-final
    Σ → context-sensitive ς — while DuckDB's utf8proc uses the simple
    one-codepoint map (plain 'i', always 'σ'). Probed round 13
    (STRADV): string_funcs is the repo's ONLY raw lower()/upper()
    exposure; every other case-fold ASCII-gates immediately
    (regexp_replace('[^a-z0-9 ]') — U+0307 and σ/ς both vanish, which
    is why the UNIADV İ/ς documents attested clean). upper('ß') also
    diverges (Java full-maps to 'SS'; utf8proc simple-maps to the
    capital ẞ U+1E9E). lower('ẞ') → 'ß' and non-final Σ agree and
    stay fair fixture game."""
    r = spark.sql(
        "SELECT lower('İ') AS i, lower('ὈδυσσεύΣ') AS s,"
        " lower('ẞtraße') AS b, upper('ß') AS u"
    ).collect()[0]
    assert r.i == "i̇", f"Java İ full mapping moved: {r.i!r}"
    assert r.s.endswith("ς"), f"Java final-sigma context rule moved: {r.s!r}"
    d = duckdb.connect().execute(
        "SELECT lower('İ'), lower('ὈδυσσεύΣ'), lower('ẞtraße'), upper('ß')"
    ).fetchone()
    assert d[0] == "i", f"utf8proc İ simple mapping moved: {d[0]!r}"
    assert d[1].endswith("σ"), f"utf8proc sigma mapping moved: {d[1]!r}"
    # the agreeing tier (fixture-safe): lowercasing the capital ẞ
    assert r.b == d[2] == "ßtraße"
    # ...but UPPERcasing ß diverges: Java 'SS' vs utf8proc 'ẞ'
    assert r.u == "SS", f"Java ß→SS full mapping moved: {r.u!r}"
    assert d[3] == "ẞ", f"utf8proc ß→ẞ simple mapping moved: {d[3]!r}"
