"""Per-key running statistics — the reference's flagship operator.

Reference: ``KafkaStreamAverageCalculator.java:102-171`` maintains a
per-key ``Double[8]`` state ``[sum, count, sumsqr, bestmin, bestmax,
mean, m2, var]`` via ``updateStateByKey``, updated with a hand-rolled
Welford loop (``:134-150``). The rebuild expresses the same aggregate
declaratively — ``groupBy(key).agg(...)`` — and lets Catalyst plan it
as partial+final HashAggregate (map-side combine, one shuffle on the
group key, whole-stage codegen). The streaming form (same body) runs
under ``outputMode("update")`` in ``streaming/pipelines.py``.

Output schema mirrors the reference POJO
(``model/SparkStreamingStatisticsProcessingResult.java:5-14``) minus
the ``delta``/``m2`` internals (bug B4 — internal Welford temporaries
with no aggregate meaning; exact-parity mode in
``streaming/state.py`` still exposes them).

Intentional divergences from reference bugs (SURVEY.md §2.3):
 - B1: no ``-10.0``/``-150.0`` min/max sentinels — true ``min``/``max``.
 - B2: the emitted key is the real group key, not a racy global.
 - Q3: ``var`` is 0.0 (not NULL) when n <= 1, matching the reference's
   explicit n<=1 branch (``KafkaStreamAverageCalculator.java:146-150``).

Numeric policy: sums/mean/variance are computed with exact integer-cent
arithmetic (see ``functions/exact.py``) so results are bit-deterministic
under any partitioning — on local[32] today and on 1000 executors at
100 TB. ``tests/test_stats.py`` property-checks them against Spark's
built-in ``avg``/``var_samp`` within FP tolerance (the reference's own
cross-check idea, ``KafkaStreamAverageCalculator.java:174-182``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exact import avg_money, cents, cents_dec, sum_money, var_exact

#: Result columns, in reference-POJO order (readTag_id first).
STAT_COLS = ("summer", "counter", "sumsqr", "bestmin", "bestmax", "mean", "var")


def stat_aggs(value: Column | str) -> list[Column]:
    """The seven aggregate expressions over a 2-decimal double column."""
    v = F.col(value) if isinstance(value, str) else value
    return [
        sum_money(v).alias("summer"),
        F.count(v).cast("double").alias("counter"),  # reference stores count as Double
        (F.sum(cents_dec(v) * cents_dec(v)).cast("double") / F.lit(10000.0)).alias(
            "sumsqr"
        ),
        F.min(v).alias("bestmin"),
        F.max(v).alias("bestmax"),
        avg_money(v).alias("mean"),
        var_exact(v).alias("var"),
    ]


def running_stats(df: DataFrame, key: str, value: str) -> DataFrame:
    """events-style input → one row per key with the 7 cumulative stats.

    Batch form of op #5 ``agg_running_stats``; the streaming form in
    ``streaming/pipelines.py`` reuses this exact body (Structured
    Streaming's unified API guarantees the update-mode stream result
    equals this batch query on the stream prefix).
    """
    # The reference's key is a string tag id; cast whatever key column is
    # used so the output schema is (readTag_id: string, ...) in both the
    # Spark result and the DuckDB oracle.
    out = df.groupBy(F.col(key).cast("string").alias("readTag_id")).agg(
        *stat_aggs(value)
    )
    return out


def stats_oracle_sql(table: str, key: str, value: str) -> str:
    """DuckDB mirror of :func:`running_stats` — textually kept in
    lock-step with ``stat_aggs`` (same integer-cents arithmetic, same
    final float op order → bit-equal doubles). Integer-sum → DOUBLE
    conversions route through VARCHAR: DuckDB's HUGEINT→DOUBLE cast is
    off by 1 ulp above 2^64 while Spark's decimal cast (and strtod)
    are correctly rounded — the squared-cents sum crosses 2^64 at
    ~2e6 ordinary-magnitude rows per group (round-10 cap-group sweep
    caught agg_running_stats there)."""
    c = f"CAST(round({value}*100) AS BIGINT)"
    cd = f"CAST(round({value}*100) AS DECIMAL(18,0))"
    sd = f"CAST(CAST(SUM({c}) AS VARCHAR) AS DOUBLE)"
    ssqd = f"CAST(CAST(SUM({cd} * {cd}) AS VARCHAR) AS DOUBLE)"
    return f"""
SELECT
  CAST({key} AS VARCHAR) AS readTag_id,
  {sd} / 100.0 AS summer,
  CAST(COUNT({value}) AS DOUBLE) AS counter,
  {ssqd} / 10000.0 AS sumsqr,
  MIN({value}) AS bestmin,
  MAX({value}) AS bestmax,
  ({sd} / 100.0) / CAST(COUNT({value}) AS DOUBLE) AS mean,
  CASE WHEN COUNT({value}) > 1 THEN
    ({ssqd} / 10000.0
      - ({sd} / 100.0) * ({sd} / 100.0)
        / CAST(COUNT({value}) AS DOUBLE))
    / CAST(COUNT({value}) - 1 AS DOUBLE)
  ELSE 0.0 END AS var
FROM {table}
GROUP BY 1
""".strip()


def welford_stats(df: DataFrame, key: str, value: str) -> DataFrame:
    """op #7 ``fn_welford_update`` — the online mean/variance kernel
    (``KafkaStreamAverageCalculator.java:138-140, 146-150``), exposing
    the converged Welford quantities incl. ``m2``.

    Spark's built-in ``avg``/``var_samp`` ARE this algorithm family
    (Chan's parallel merge of Welford partials) — but their float
    partial merges are partition-order-dependent, so for the oracle
    gate the identical quantities are derived from exact integer sums:
    mean = S/n, m2 = Ssq − S²/n, var = m2/(n−1). Same mathematical
    fixpoint, associative arithmetic, bit-stable on any cluster.
    ``tests/test_stats.py`` separately pins built-in ``var_samp`` to
    this within FP tolerance.
    """
    v = F.col(value)
    n = F.count(v)
    s = F.sum(cents(v)).cast("double") / F.lit(100.0)
    ssq = F.sum(cents_dec(v) * cents_dec(v)).cast("double") / F.lit(10000.0)
    mean = s / n.cast("double")
    m2 = ssq - s * s / n.cast("double")
    return df.groupBy(F.col(key).cast("string").alias("readTag_id")).agg(
        mean.alias("mean"),
        m2.alias("m2"),
        F.when(n > 1, m2 / (n - F.lit(1)).cast("double"))
        .otherwise(F.lit(0.0))
        .alias("var"),
    )


def welford_oracle_sql(table: str, key: str, value: str) -> str:
    c = f"CAST(round({value}*100) AS BIGINT)"
    cd = f"CAST(round({value}*100) AS DECIMAL(18,0))"
    # VARCHAR hop: see stats_oracle_sql (1-ulp HUGEINT→DOUBLE above 2^64)
    s = f"(CAST(CAST(SUM({c}) AS VARCHAR) AS DOUBLE) / 100.0)"
    ssq = f"(CAST(CAST(SUM({cd} * {cd}) AS VARCHAR) AS DOUBLE) / 10000.0)"
    n = f"CAST(COUNT({value}) AS DOUBLE)"
    m2 = f"({ssq} - {s} * {s} / {n})"
    return f"""
SELECT CAST({key} AS VARCHAR) AS readTag_id,
       {s} / {n} AS mean,
       {m2} AS m2,
       CASE WHEN COUNT({value}) > 1
            THEN {m2} / (CAST(COUNT({value}) AS DOUBLE) - 1.0)
            ELSE 0.0 END AS var
FROM {table} GROUP BY 1
""".strip()


def seeded_stats_merge(df: DataFrame, key: str, value: str, split: Column) -> DataFrame:
    """op #14 ``state_seed_initial`` — state seeding as an associative
    merge: aggregate the ``split`` partition of the stream into partial
    state (the "seed" a restarted job begins from,
    ``KafkaStreamAverageCalculator.java:105`` — minus its B1 sentinel
    bug), aggregate the remainder, and MERGE the partials:

        sum+=sum, n+=n, sumsq+=sumsq, min=least, max=greatest

    The merged result must equal the single-pass aggregate over the
    whole stream — precisely the partial/final-merge contract Spark's
    state restore relies on, and the additivity property
    ``tests/test_stats.py`` checks. Partials stay in exact integer
    cents, so the merge is bit-lossless.
    """
    k = F.col(key).cast("string").alias("readTag_id")
    v = F.col(value)
    partial = (
        df.groupBy(k, split.alias("phase"))
        .agg(
            F.sum(cents(v)).alias("s_c"),
            F.count(v).alias("n"),
            F.sum(cents_dec(v) * cents_dec(v)).alias("ssq_c2"),
            F.min(v).alias("mn"),
            F.max(v).alias("mx"),
        )
    )
    merged = partial.groupBy("readTag_id").agg(
        F.sum("s_c").alias("s_c"),
        F.sum("n").alias("n"),
        F.sum("ssq_c2").alias("ssq_c2"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.count("*").alias("n_phases"),
    )
    s = F.col("s_c").cast("double") / F.lit(100.0)
    n = F.col("n")
    return merged.select(
        "readTag_id",
        s.alias("summer"),
        n.cast("double").alias("counter"),
        (F.col("ssq_c2").cast("double") / F.lit(10000.0)).alias("sumsqr"),
        F.col("mn").alias("bestmin"),
        F.col("mx").alias("bestmax"),
        (s / n.cast("double")).alias("mean"),
        F.col("n_phases").cast("long").alias("n_phases"),
    )


def higher_moments(df: DataFrame, key: str, value: str) -> DataFrame:
    """Exact 3rd/4th-moment statistics per key — central moments and
    skewness / excess kurtosis computed from EXACT INTEGER central
    sums, so even these deep aggregates bit-match the oracle:

        N2 = n·S2 − S1²                       (cents², EXACT)
        N3 = n²·S3 − 3n·S1·S2 + 2·S1³          (cents³, double)
        N4 = n³·S4 − 4n²·S1·S3 + 6n·S1²·S2 − 3·S1⁴  (cents⁴, double)

    The power sums S1..S4 and N2 are exact integers (DECIMAL(38,0) /
    DuckDB HUGEINT). S4 is the widest: a single DECIMAL(38,0) sum of
    cents⁴ (1e32/row at the EVENT_VALUE_ABS_MAX cap) overflowed at
    ~1.7e6 rows per all-cap group — demonstrated live by the round-10
    cap-group probe (2e6-row group at |value| = 1e6: Spark ANSI
    ARITHMETIC_OVERFLOW, DuckDB HUGEINT out-of-range). So S4 is summed
    as THREE exactly-representable limbs: cents² <= 1e16 fits a long;
    write c2 = a·1e8 + b (a = c2 div 1e8, b = c2 mod 1e8, both
    nonnegative, so Spark's ``div`` and DuckDB's ``//`` agree), then
    cents⁴ = c2² = a²·1e16 + 2ab·1e8 + b², with every per-row limb
    <= 2e16 (long-safe) and each limb sum exact in DECIMAL(38,0) /
    HUGEINT to ~1e22 rows. S4 is reconstructed only inside the DOUBLE
    N4 combination as (hi·1e16 + mid·1e8) + lo — the identical
    left-associated expression in both engines over identical exact
    integers. New envelope at the cap: the binding constraint is now
    S1² <= (n·1e8)² inside DECIMAL(38,0), i.e. ~4e11 rows per ALL-CAP
    group (5 orders above the old bound, adversarial-only at 100 TB);
    S3 (1e24/row at cap) holds to ~1.7e14 rows. At the REAL
    measurement scale (values <= ~560) no practical limit. The
    N3/N4 COMBINATIONS, however, carry intermediate terms that grow as
    n⁴·mean⁴ even when the central moment itself is tiny — the round-9
    adversarial-float sweep overflowed 3·S1⁴ at 9.9e39 with a 200-row
    group at the cap, and real data would hit the same wall near sf≈10
    (latent scale bug in the earlier all-DECIMAL(38) form). So N3/N4
    are combined in DOUBLE: both engines evaluate the identical
    left-associated expression over identical integers. Spark's
    DECIMAL(38,0)→DOUBLE cast is correctly rounded, but DuckDB's
    HUGEINT→DOUBLE is NOT above 2^64 (two-step hi/lo double addition,
    off by 1 ulp — e.g. 25898047232904611846 → ...d914 vs the correct
    ...d915; round-9 adversarial-float sweep), so higher_moments_sql
    routes every >2^64-capable conversion through
    ``CAST(CAST(x AS VARCHAR) AS DOUBLE)`` — DuckDB's strtod IS
    correctly rounded. With both sides correctly rounded, IEEE
    determinism gives bit-equal results; only true precision (not
    parity) degrades, the standard power-sum tradeoff. The cents scale cancels in the
    normalized shapes: skewness = N3/√(N2³), excess kurtosis =
    N4/N2² − 3."""
    # long-cents projection: |cents| <= 1e8 under the magnitude clause,
    # so c2 = cents² <= 1e16 fits a long exactly; a/b are the S4 limb
    # bases (see docstring). Chained selects so each derived column is
    # referenceable by name — keeps the limb arithmetic JVM-side and
    # inside whole-stage codegen.
    cl = F.round(F.col(value) * F.lit(100.0), 0).cast("long")
    p = (
        df.select(F.col(key).cast("string").alias("readTag_id"), cl.alias("cl"))
        .select("readTag_id", "cl", (F.col("cl") * F.col("cl")).alias("c2"))
        .select(
            "readTag_id", "cl", "c2",
            F.expr("c2 div 100000000").alias("a"),
            (F.col("c2") % F.lit(100000000)).alias("b"),
        )
    )
    cl_dec = F.col("cl").cast("decimal(18,0)")
    c2_dec = F.col("c2").cast("decimal(18,0)")
    agg = p.groupBy("readTag_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("cl").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("c2").cast("decimal(38,0)")).alias("s2"),
        # c3 = cl·c2 <= 1e24 needs decimal per-row (long would overflow)
        F.sum((cl_dec * c2_dec).cast("decimal(38,0)")).alias("s3"),
        F.sum((F.col("a") * F.col("a")).cast("decimal(38,0)")).alias("s4a"),
        F.sum((F.lit(2) * F.col("a") * F.col("b")).cast("decimal(38,0)")).alias("s4ab"),
        F.sum((F.col("b") * F.col("b")).cast("decimal(38,0)")).alias("s4b"),
    )
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    n_i = d38(F.col("n"))
    s1, s2 = F.col("s1"), F.col("s2")
    N2 = d38(n_i * s2) - d38(s1 * s1)
    # doubles for the N3/N4 combination — textually mirrored in
    # higher_moments_sql (same left-assoc order, same literals)
    nd = F.col("n").cast("double")
    s1d0, s2d0, s3d0 = (F.col(x).cast("double") for x in ("s1", "s2", "s3"))
    # S4 reconstructed from its exact limb sums, left-associated:
    # ((hi·1e16) + (mid·1e8)) + lo — textually mirrored in
    # higher_moments_sql so both engines run the identical double
    # expression over identical exact integers.
    s4d0 = (
        F.col("s4a").cast("double") * F.lit(1e16)
        + F.col("s4ab").cast("double") * F.lit(1e8)
        + F.col("s4b").cast("double")
    )
    N3 = (
        nd * nd * s3d0
        - F.lit(3.0) * nd * s1d0 * s2d0
        + F.lit(2.0) * s1d0 * s1d0 * s1d0
    )
    N4 = (
        nd * nd * nd * s4d0
        - F.lit(4.0) * nd * nd * s1d0 * s3d0
        + F.lit(6.0) * nd * s1d0 * s1d0 * s2d0
        - F.lit(3.0) * s1d0 * s1d0 * s1d0 * s1d0
    )
    # N3/N4 are already double; only N2 needs the cast
    n2d, n3d, n4d = F.col("N2").cast("double"), F.col("N3"), F.col("N4")
    mid = agg.select("readTag_id", "n", N2.alias("N2"), N3.alias("N3"), N4.alias("N4"))
    return mid.select(
        "readTag_id",
        F.col("n").alias("n_rows"),
        (n2d / (nd * nd) / F.lit(1e4)).alias("m2"),
        (n3d / (nd * nd * nd) / F.lit(1e6)).alias("m3"),
        (n4d / (nd * nd * nd * nd) / F.lit(1e8)).alias("m4"),
        F.try_divide(n3d, F.sqrt(n2d * n2d * n2d)).alias("skewness"),
        (F.try_divide(n4d, n2d * n2d) - F.lit(3.0)).alias("excess_kurtosis"),
    )


def higher_moments_sql(table: str, key: str, value: str) -> str:
    return f"""
WITH cents AS (
  -- long cents + S4 limb bases: c2 = cents² <= 1e16 (BIGINT-safe under
  -- the magnitude clause), a = c2 div 1e8, b = c2 mod 1e8 — cents⁴ then
  -- sums as three exact limbs (a², 2ab, b², each <= 2e16/row) instead
  -- of one 1e32/row term that overflowed HUGEINT at ~1.7e6 all-cap
  -- rows (round-10 cap-group probe; mirrors operators/stats.py)
  SELECT CAST({key} AS VARCHAR) AS readTag_id,
         CAST(round({value}*100) AS BIGINT) AS cl,
         CAST(round({value}*100) AS BIGINT) * CAST(round({value}*100) AS BIGINT) AS c2
  FROM {table}
), limbs AS (
  SELECT readTag_id, cl, c2, c2 // 100000000 AS a, c2 % 100000000 AS b
  FROM cents
), sums AS (
  SELECT readTag_id, COUNT(*) AS n,
         CAST(SUM(CAST(cl AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(SUM(CAST(c2 AS HUGEINT)) AS HUGEINT) AS s2,
         CAST(SUM(CAST(cl AS HUGEINT) * CAST(c2 AS HUGEINT)) AS HUGEINT) AS s3,
         CAST(SUM(CAST(a*a AS HUGEINT)) AS HUGEINT) AS s4a,
         CAST(SUM(CAST(2*a*b AS HUGEINT)) AS HUGEINT) AS s4ab,
         CAST(SUM(CAST(b*b AS HUGEINT)) AS HUGEINT) AS s4b
  FROM limbs GROUP BY 1
), central AS (
  -- N2 exact in HUGEINT; N3/N4 combined in DOUBLE over the exact
  -- integer sums, textually mirroring higher_moments (the earlier
  -- all-HUGEINT form overflowed on 3*s1^4 ~ n^4*mean^4 — round-9
  -- adversarial-float sweep, latent at sf~10 on real data)
  SELECT readTag_id, n,
         CAST(n AS HUGEINT)*s2 - s1*s1 AS N2,
         CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(s3 AS VARCHAR) AS DOUBLE)
           - 3.0*CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(s1 AS VARCHAR) AS DOUBLE)*CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
           + 2.0*CAST(CAST(s1 AS VARCHAR) AS DOUBLE)*CAST(CAST(s1 AS VARCHAR) AS DOUBLE)*CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS N3,
         CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(n AS VARCHAR) AS DOUBLE)*(CAST(CAST(s4a AS VARCHAR) AS DOUBLE)*1e16 + CAST(CAST(s4ab AS VARCHAR) AS DOUBLE)*1e8 + CAST(CAST(s4b AS VARCHAR) AS DOUBLE))
           - 4.0*CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(s1 AS VARCHAR) AS DOUBLE)*CAST(CAST(s3 AS VARCHAR) AS DOUBLE)
           + 6.0*CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(s1 AS VARCHAR) AS DOUBLE)*CAST(CAST(s1 AS VARCHAR) AS DOUBLE)*CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
           - 3.0*CAST(CAST(s1 AS VARCHAR) AS DOUBLE)*CAST(CAST(s1 AS VARCHAR) AS DOUBLE)*CAST(CAST(s1 AS VARCHAR) AS DOUBLE)*CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS N4
  FROM sums
)
SELECT readTag_id, n AS n_rows,
  CAST(CAST(N2 AS VARCHAR) AS DOUBLE) / (CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(n AS VARCHAR) AS DOUBLE)) / 1e4 AS m2,
  N3 / (CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(n AS VARCHAR) AS DOUBLE)) / 1e6 AS m3,
  N4 / (CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(n AS VARCHAR) AS DOUBLE)*CAST(CAST(n AS VARCHAR) AS DOUBLE)) / 1e8 AS m4,
  CASE WHEN N2 > 0 THEN N3
       / sqrt(CAST(CAST(N2 AS VARCHAR) AS DOUBLE)*CAST(CAST(N2 AS VARCHAR) AS DOUBLE)*CAST(CAST(N2 AS VARCHAR) AS DOUBLE)) END AS skewness,
  CASE WHEN N2 > 0 THEN N4
       / (CAST(CAST(N2 AS VARCHAR) AS DOUBLE)*CAST(CAST(N2 AS VARCHAR) AS DOUBLE)) - 3.0 END AS excess_kurtosis
FROM central
""".strip()
