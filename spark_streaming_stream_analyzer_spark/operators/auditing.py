"""Warehouse-operations operators: data-quality auditing, skew
profiling, histogram-sketch quantiles, and SCD2 interval builds.

The ops an analytics platform runs ABOUT its data: constraint audits
(dbt/Deequ-style), heavy-hitter skew profiles (the input to salting
decisions), a mergeable fixed-width-histogram median (the portable
cousin of ``approx_aggs``' private KLL sketch), and type-2
slowly-changing-dimension intervals.

Quantile estimates are computed entirely in exact integer cents
(bins, cumulative counts, midpoints) with one final divide, so the
DuckDB oracles match bit-exactly — the same discipline as
``functions/exact.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import cents
from ..functions.hashing import hash64, hash64_sql
from ..sources.tables import load_table, load_table_cpu, ts_micros, ts_timestamp

# ------------------------------------------------- histogram median --

HIST_BINS = 256


def approx_median_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group median from a fixed-width 256-bin
    histogram over exact integer cents: min/max pass → integer bin
    width → bin counts → first bin whose running count reaches
    ceil(n/2) → bin midpoint.

    Everything up to the final /100.0 is int64, so the estimate is
    bit-portable (unlike percentile_approx's engine-private sketch,
    which can only be rows-only checked). The histogram is MERGEABLE
    (bin counts add), so at 100 TB each executor emits 256 partial
    counts per group and the merge is integer addition — same
    scale shape as the HLL/CMS tier. Error ≤ half a bin width."""
    # NULL measurements are not histogram members (a NULL bin corrupts
    # the running count — round-8 NaN/Inf sweep, as ts_anomaly_mad)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", cents("value").alias("c"))
    )
    rng = ev.groupBy("event_type").agg(
        F.min("c").alias("min_c"),
        F.max("c").alias("max_c"),
        F.count("*").alias("n"),
    )
    # integer DIV on both engines — a double-divide-then-cast would
    # TRUNCATE in Spark but ROUND in DuckDB's CAST(.. AS BIGINT)
    rng = rng.withColumn(
        "w", F.expr(f"(max_c - min_c) DIV {HIST_BINS}") + 1
    )
    binned = (
        ev.join(F.broadcast(rng), "event_type")
        .select(
            "event_type",
            "n",
            "min_c",
            "w",
            F.expr("(c - min_c) DIV w").alias("bin"),
        )
        .groupBy("event_type", "n", "min_c", "w", "bin")
        .agg(F.count("*").alias("bc"))
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.withColumn("cum", F.sum("bc").over(win))
    med = (
        cum.filter(F.col("cum") * 2 >= F.col("n"))
        .groupBy("event_type", "n", "min_c", "w")
        .agg(F.min("bin").alias("mbin"))
    )
    return med.select(
        "event_type",
        "n",
        (
            F.expr("min_c + mbin * w + (w DIV 2)").cast("double") / F.lit(100.0)
        ).alias("approx_median"),
    )


APPROX_MEDIAN_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(round(value*100) AS BIGINT) AS c FROM events
  WHERE value IS NOT NULL
),
rng AS (
  SELECT event_type, MIN(c) AS min_c, MAX(c) AS max_c, COUNT(*) AS n,
         (MAX(c) - MIN(c)) // {HIST_BINS} + 1 AS w
  FROM ev GROUP BY 1
),
binned AS (
  SELECT ev.event_type, rng.n, rng.min_c, rng.w,
         (ev.c - rng.min_c) // rng.w AS bin,
         COUNT(*) AS bc
  FROM ev JOIN rng ON ev.event_type = rng.event_type
  GROUP BY 1, 2, 3, 4, 5
),
cum AS (
  SELECT event_type, n, min_c, w, bin,
         SUM(bc) OVER (PARTITION BY event_type ORDER BY bin
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM binned
),
med AS (
  SELECT event_type, n, min_c, w, MIN(bin) AS mbin
  FROM cum WHERE cum * 2 >= n
  GROUP BY 1, 2, 3, 4
)
SELECT event_type, n,
       CAST(min_c + mbin * w + (w // 2) AS DOUBLE) / 100.0 AS approx_median
FROM med
"""


# --------------------------------------------------- SCD2 intervals --

#: keep the registered output driver-sized: one user in SCD2_USER_MOD
SCD2_USER_MOD = 50


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: each (user, event)
    becomes a validity interval [its timestamp, next event's
    timestamp) via `lead` — NULL valid_to marks the current row. The
    standard CDC-to-warehouse materialization.

    One window shuffle on user_id with (ts, event_id) in-partition
    sort — ties broken by event_id so the intervals are deterministic.
    Keeps a 1-in-{SCD2_USER_MOD} user sample (applied here, and
    identically in the oracle) so the driver compare stays small; drop
    the filter for the full SCD2 materialization."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % SCD2_USER_MOD == 0
    )
    us = ts_micros()
    w = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
    return (
        ev.select("user_id", "event_id", us.alias("valid_from_us"), "value")
        .withColumn("valid_to_us", F.lead("valid_from_us").over(w))
        .select("user_id", "event_id", "valid_from_us", "valid_to_us", "value")
    )


SCD2_SQL = f"""
SELECT user_id, event_id,
       epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id)
         AS valid_to_us,
       value
FROM events
WHERE user_id % {SCD2_USER_MOD} = 0
"""


# ------------------------------------------------- constraint audit --


def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ/dbt-style declarative data-quality audit: each row is one
    constraint with its violation count over the full table —
    referential integrity (lineitem→orders), primary-key uniqueness,
    null checks, and value-range checks.

    Null/range/dup checks are single conditional aggregates over one
    scan per table (violations counted map-side); the FK check is the
    one real join, shuffled on the key like any fact-fact join. Checks
    union into a constant-width result — the shape that lands in a
    monitoring table."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"), "n_violations", "n_checked"
        )

    ok = orders.select("o_orderkey").distinct()
    fk = check(
        "lineitem_orphan_orderkey",
        li.join(ok, li.l_orderkey == ok.o_orderkey, "left").agg(
            F.count_if(F.col("o_orderkey").isNull()).alias("n_violations"),
            F.count("*").alias("n_checked"),
        ),
    )
    dup = check(
        "orders_pk_unique",
        orders.agg(
            (F.count("*") - F.countDistinct("o_orderkey")).alias("n_violations"),
            F.count("*").alias("n_checked"),
        ),
    )
    nn = check(
        "orders_custkey_not_null",
        orders.agg(
            F.count_if(F.col("o_custkey").isNull()).alias("n_violations"),
            F.count("*").alias("n_checked"),
        ),
    )
    qty = check(
        "lineitem_quantity_range",
        li.agg(
            F.count_if(
                (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50)
            ).alias("n_violations"),
            F.count("*").alias("n_checked"),
        ),
    )
    evv = check(
        "events_value_nonnegative",
        ev.agg(
            F.count_if(F.col("value") < 0).alias("n_violations"),
            F.count("*").alias("n_checked"),
        ),
    )
    # identity-key uniqueness for the two corpus tables whose
    # downstream tiers ASSUME it (the doc-keyed dedup/similarity pair
    # machinery and event-keyed replay logic): an at-least-once ingest
    # that lands duplicate doc_ids/event_ids is detected HERE, before
    # the assumption silently degrades those reports (round-8 dup-rows
    # sweep — the documented ingest contract)
    docs = load_table(spark, sf_dir, "documents")
    ddup = check(
        "documents_pk_unique",
        docs.agg(
            (F.count("*") - F.countDistinct("doc_id")).alias("n_violations"),
            F.count("*").alias("n_checked"),
        ),
    )
    edup = check(
        "events_pk_unique",
        ev.agg(
            (F.count("*") - F.countDistinct("event_id")).alias("n_violations"),
            F.count("*").alias("n_checked"),
        ),
    )
    return (
        fk.unionByName(dup)
        .unionByName(nn)
        .unionByName(qty)
        .unionByName(evv)
        .unionByName(ddup)
        .unionByName(edup)
    )


DQ_AUDIT_SQL = """
SELECT 'lineitem_orphan_orderkey' AS check_name,
       COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS n_violations,
       COUNT(*) AS n_checked
FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
  ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders_pk_unique',
       COUNT(*) - COUNT(DISTINCT o_orderkey), COUNT(*) FROM orders
UNION ALL
SELECT 'orders_custkey_not_null',
       COUNT(*) FILTER (WHERE o_custkey IS NULL), COUNT(*) FROM orders
UNION ALL
SELECT 'lineitem_quantity_range',
       COUNT(*) FILTER (WHERE l_quantity <= 0 OR l_quantity > 50),
       COUNT(*) FROM lineitem
UNION ALL
SELECT 'events_value_nonnegative',
       COUNT(*) FILTER (WHERE value < 0), COUNT(*) FROM events
UNION ALL
SELECT 'documents_pk_unique',
       COUNT(*) - COUNT(DISTINCT doc_id), COUNT(*) FROM documents
UNION ALL
SELECT 'events_pk_unique',
       COUNT(*) - COUNT(DISTINCT event_id), COUNT(*) FROM events
"""


# --------------------------------------------------- skew profiling --

SKEW_TOP_K = 20


def skew_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of a join/agg key (orders.o_custkey):
    top-K keys by row count with their share of the table — the
    diagnostic that decides whether a key needs salting or AQE
    skew-join handling before a big shuffle.

    One hash-agg + TakeOrderedAndProject (no full sort); the total is
    a 1-row broadcast. Share = two exact longs divided once."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    tot = orders.agg(F.count("*").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "o_custkey",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total").cast("double")).alias(
                "share"
            ),
        )
        .orderBy(F.col("cnt").desc(), F.col("o_custkey"))
        .limit(SKEW_TOP_K)
    )


SKEW_PROFILE_SQL = f"""
WITH counts AS (
  SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1
),
tot AS (SELECT COUNT(*) AS total FROM orders)
SELECT o_custkey, cnt,
       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
FROM counts CROSS JOIN tot
ORDER BY cnt DESC, o_custkey
LIMIT {SKEW_TOP_K}
"""


# ------------------------------------------------------ Benford audit --

# floor(log10(1 + 1/d) * 1e6) — hard-coded integer ppm so both engines
# compare against the identical expectation with zero float evaluation
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-numbers screen (a synthetic or tampered amount column
    deviates from the log-law digit distribution long before any
    per-row rule fires). Emits, per leading digit 1-9, the observed
    count, observed ppm, the Benford expectation ppm (hard-coded
    integer constants), and the signed deviation.

    One scan -> 9-group aggregate; the total rides back via a
    broadcast scalar cross join. All-integer verdict (ppm = n·1e6 DIV
    total), so the audit itself is value-oracled. On uniform synthetic
    prices the deviation is ENORMOUS — which is the point of keeping
    the audit around: it fires on exactly the data a generator forgot
    to make log-uniform.
    """
    od = load_table(spark, sf_dir, "orders")
    digit = F.substring(cents("o_totalprice").cast("string"), 1, 1).cast("int")
    by_d = od.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n_obs")
    )
    tot = by_d.agg(F.sum("n_obs").alias("n_total"))
    exp_case = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM.items()
    ) + " END"
    return by_d.crossJoin(tot).select(
        "digit",
        "n_obs",
        F.expr("n_obs * 1000000 DIV n_total").alias("obs_ppm"),
        F.expr(exp_case).cast("long").alias("exp_ppm"),
        F.expr(f"n_obs * 1000000 DIV n_total - ({exp_case})").alias("dev_ppm"),
    )


_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM.items()
) + " END"

DQ_BENFORD_SQL = f"""
WITH by_d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         COUNT(*) AS n_obs
  FROM orders GROUP BY 1
),
tot AS (SELECT SUM(n_obs) AS n_total FROM by_d)
SELECT digit, n_obs,
       CAST(n_obs * 1000000 // n_total AS BIGINT) AS obs_ppm,
       CAST({_BENFORD_CASE} AS BIGINT) AS exp_ppm,
       CAST(n_obs * 1000000 // n_total - ({_BENFORD_CASE}) AS BIGINT)
         AS dev_ppm
FROM by_d, tot
"""


# --------------------------------------------------- z-order layout --

ZORDER_BITS = 16          # bits per dimension
ZBUCKET_SHIFT = 14        # file granularity: z >> shift


def _z_expr(x: str, y: str, shl, shr) -> str:
    """Bit-interleave expression builder; ``shl``/``shr`` render a
    shift for the target dialect."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(shl(f"({shr(x, i)} & 1)", 2 * i))
        terms.append(shl(f"({shr(y, i)} & 1)", 2 * i + 1))
    return " + ".join(terms)


_Z_SPARK = _z_expr(
    "xd", "yd",
    lambda e, n: f"shiftleft({e}, {n})",
    lambda e, n: f"shiftright({e}, {n})",
)
_Z_DUCK = _z_expr(
    "xd", "yd",
    lambda e, n: f"(({e}) << {n})",
    lambda e, n: f"({e} >> {n})",
)


def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout audit: interleave the bits of
    (o_custkey, order-day) into a 32-bit z-value, bucket rows at file
    granularity (z >> ZBUCKET_SHIFT), and report each bucket's row count and
    per-dimension min/max envelope — the statistics a lakehouse
    data-skipping layer keeps per file. Z-ordered buckets have TIGHT
    envelopes on BOTH dimensions simultaneously, which is the whole
    point of the curve: a predicate on either column prunes most
    buckets, where a sort by one column leaves the other's envelopes
    spanning the full domain.

    Why an audit and not a writer: the 100 TB production form is
    ``df.repartitionByRange(N, z).sortWithinPartitions(z)
    .write...`` — the z-expression below IS that layout key, and this
    operator is the envelope report you run to prove the layout
    skips. Pure integer bit arithmetic (32 shift-and-mask terms,
    whole-stage-codegen'd, no UDF), one aggregate.
    """
    od = load_table(spark, sf_dir, "orders")
    base = od.select(
        (F.col("o_custkey").cast("long") % (1 << ZORDER_BITS)).alias("xd"),
        F.expr(
            f"datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
            f" % {1 << ZORDER_BITS}"
        ).alias("yd"),
    )
    z = base.select("xd", "yd", F.expr(_Z_SPARK).alias("z"))
    return (
        z.select("xd", "yd", F.expr(f"z DIV {1 << ZBUCKET_SHIFT}").alias("zbucket"))
        .groupBy("zbucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("xd").alias("min_cust"),
            F.max("xd").alias("max_cust"),
            F.min("yd").alias("min_day"),
            F.max("yd").alias("max_day"),
        )
    )


DQ_ZORDER_SQL = f"""
WITH base AS (
  SELECT CAST(o_custkey % {1 << ZORDER_BITS} AS BIGINT) AS xd,
         CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              % {1 << ZORDER_BITS} AS BIGINT) AS yd
  FROM orders
),
zed AS (SELECT xd, yd, {_Z_DUCK} AS z FROM base)
SELECT z // {1 << ZBUCKET_SHIFT} AS zbucket, COUNT(*) AS n_rows,
       MIN(xd) AS min_cust, MAX(xd) AS max_cust,
       MIN(yd) AS min_day, MAX(yd) AS max_day
FROM zed GROUP BY 1
"""


# ---------------------------------------------- reconciliation sums --

CKSUM_BUCKET = 1_000  # orderkeys per reconciliation bucket


def dq_checksum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed checksum buckets — the table-reconciliation primitive:
    hash every row's business fields, XOR-fold the hashes within
    key-range buckets, and compare bucket digests between two copies
    of a table (replica sync, migration cutover, CDC drift). Equal
    digests skip the bucket; a mismatch narrows the diff to one key
    range — O(|table| / bucket) comparisons instead of a full join,
    which is the entire trick at 100 TB.

    XOR is the right fold: commutative/associative (partial
    aggregates compose in any order), width-preserving (no overflow),
    and any single-row change flips the digest. One scan, one
    hash-agg; the row hash is the portable md5-based ``hash64`` over
    a canonical field serialization, so an independent engine (the
    oracle here, a replica's checksummer in production) derives
    identical digests.
    """
    od = load_table(spark, sf_dir, "orders")
    # F.concat, NOT concat_ws: the oracle serializes with `||`, which
    # propagates NULL for the whole row (bit_xor then skips it), while
    # concat_ws silently DROPS null fields — a row with a NULL field
    # would hash to a valid digest here but vanish from the oracle's,
    # and '(a,NULL,b)' would collide with '(a,b,NULL)'. TPC-H orders
    # happens to be non-null everywhere, but the checksum must not
    # depend on that.
    row_str = F.concat(
        F.col("o_orderkey").cast("string"), F.lit("|"),
        F.col("o_custkey").cast("string"), F.lit("|"),
        F.col("o_orderstatus"), F.lit("|"),
        cents("o_totalprice").cast("string"), F.lit("|"),
        F.col("o_orderdate").cast("date").cast("string"),
    )
    return (
        od.select(
            F.expr(f"o_orderkey DIV {CKSUM_BUCKET}").alias("bucket"),
            hash64(row_str).alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(h)").alias("digest"),
        )
    )


_CKSUM_ROW = (
    "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
    " || '|' || o_orderstatus || '|' ||"
    " CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)"
    " || '|' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"
)

DQ_CKSUM_SQL = f"""
SELECT o_orderkey // {CKSUM_BUCKET} AS bucket, COUNT(*) AS n_rows,
       bit_xor({hash64_sql(_CKSUM_ROW)}) AS digest
FROM orders GROUP BY 1
"""


# ------------------------------------------------- column profiling --

_PROFILE_COLS = [
    # (name, null-safe min/max expression rendered to string)
    ("event_id", "CAST({c} AS STRING)"),
    ("user_id", "CAST({c} AS STRING)"),
    ("event_type", "{c}"),
    ("value", "CAST(CAST(round({c} * 100) AS BIGINT) AS STRING)"),
    ("props", "{c}"),
]


def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profiler in ONE scan: per column the row
    count, null count, exact distinct count, and min/max — the
    schema-health summary every ingestion pipeline snapshots per
    batch (Deequ's ``Analyzer`` set, dbt's ``describe``).

    Min/max are emitted as STRINGS with a per-type exact rendering
    (bigints via cast, doubles via integer cents) so one result
    schema covers heterogeneous columns and both engines format
    identically — double→string directly would diverge in
    scientific-notation corners.

    Scale: the 5 distinct-counts in one agg expand the scan 5× (the
    documented ``agg_multi_distinct`` Expand shape) but stay one
    pass / one partial+final aggregate, no joins; at 100 TB swap
    exact distincts for HLL (``approx_distinct_portable``) — the
    profile shape is unchanged.
    """
    ev = load_table(spark, sf_dir, "events")
    aggs = [F.count("*").alias("n_rows")]
    for name, render in _PROFILE_COLS:
        aggs.extend(
            [
                F.sum(F.col(name).isNull().cast("long")).alias(f"nn_{name}"),
                F.count_distinct(F.col(name)).alias(f"nd_{name}"),
                F.expr(render.format(c=f"min({name})")).alias(f"mn_{name}"),
                F.expr(render.format(c=f"max({name})")).alias(f"mx_{name}"),
            ]
        )
    prof = ev.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', nn_{name}, nd_{name}, mn_{name}, mx_{name}"
        for name, _ in _PROFILE_COLS
    )
    return prof.select(
        "n_rows",
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args})"
            " AS (col_name, n_null, n_distinct, min_s, max_s)"
        ),
    ).select("col_name", "n_rows", "n_null", "n_distinct", "min_s", "max_s")


def _profile_branch_sql(name: str, render: str) -> str:
    mn = render.format(c=f"MIN({name})")
    mx = render.format(c=f"MAX({name})")
    return f"""
  SELECT '{name}' AS col_name, COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         COUNT(DISTINCT {name}) AS n_distinct,
         {mn} AS min_s, {mx} AS max_s
  FROM events"""


DQ_PROFILE_SQL = "\nUNION ALL\n".join(
    _profile_branch_sql(
        name,
        render.replace("AS STRING", "AS VARCHAR"),
    )
    for name, render in _PROFILE_COLS
)


# -------------------------------------------- distribution drift --

DRIFT_ALERT_PPM = 20_000


def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-share drift between the first and second half of the
    event stream's day range: per event_type the share (ppm) in each
    half, the signed delta, and an alert flag at ±2% — plus the
    half-total-variation distance is recoverable as Σ|delta| DIV 2.
    The train/serve skew monitor in its simplest decidable form (PSI
    needs logs; TVD is the log-free, integer-exact drift metric —
    same discipline as ``text_tfidf_topk``).

    Scale: one scan → (type, half) counts; the day-range boundary is
    a 1-row broadcast scalar (same shape as ``dq_benford``'s total),
    and shares are windows over the |types|-row aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.select("event_type", ts_micros().alias("us"))
        .select("event_type", F.expr("us DIV 86400000000").alias("day"))
        # two consumers (range scalar + the half-tagging pass): one
        # events scan instead of four (round-13 rescan rule; the
        # projection is cheap but the repeated parquet scans are not
        # at 100 TB)
        .localCheckpoint(eager=False)
    )
    rng = days.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    halves = days.crossJoin(F.broadcast(rng)).select(
        "event_type",
        F.when(
            F.col("day") < F.expr("(d0 + d1 + 1) DIV 2"), F.lit("ref")
        ).otherwise(F.lit("cur")).alias("half"),
    )
    counts = halves.groupBy("event_type", "half").agg(
        F.count("*").alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("half"))
    shares = counts.withColumn("tot", tot).select(
        "event_type", "half", "n",
        F.expr("(n * 1000000) DIV tot").alias("share_ppm"),
    )
    ref = shares.filter("half = 'ref'").select(
        "event_type",
        F.col("n").alias("ref_n"),
        F.col("share_ppm").alias("ref_ppm"),
    )
    cur = shares.filter("half = 'cur'").select(
        "event_type",
        F.col("n").alias("cur_n"),
        F.col("share_ppm").alias("cur_ppm"),
    )
    return (
        ref.join(cur, "event_type", "full")
        .select(
            "event_type",
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
            F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
            F.coalesce("ref_ppm", F.lit(0)).alias("ref_ppm"),
            F.coalesce("cur_ppm", F.lit(0)).alias("cur_ppm"),
        )
        .withColumn("delta_ppm", F.col("cur_ppm") - F.col("ref_ppm"))
        .withColumn(
            "drift_alert",
            (F.abs(F.col("delta_ppm")) > DRIFT_ALERT_PPM).cast("int"),
        )
    )


DQ_DRIFT_SQL = f"""
WITH days AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events
),
rng AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM days),
halves AS (
  SELECT event_type,
         CASE WHEN day < (d0 + d1 + 1) // 2 THEN 'ref' ELSE 'cur' END AS half
  FROM days CROSS JOIN rng
),
counts AS (
  SELECT event_type, half, COUNT(*) AS n FROM halves GROUP BY 1, 2
),
shares AS (
  SELECT event_type, half, n,
         (n * 1000000) // SUM(n) OVER (PARTITION BY half) AS share_ppm
  FROM counts
),
ref AS (SELECT event_type, n AS ref_n, share_ppm AS ref_ppm
        FROM shares WHERE half = 'ref'),
cur AS (SELECT event_type, n AS cur_n, share_ppm AS cur_ppm
        FROM shares WHERE half = 'cur')
SELECT COALESCE(r.event_type, c.event_type) AS event_type,
       CAST(COALESCE(r.ref_n, 0) AS BIGINT) AS ref_n,
       CAST(COALESCE(c.cur_n, 0) AS BIGINT) AS cur_n,
       CAST(COALESCE(r.ref_ppm, 0) AS BIGINT) AS ref_ppm,
       CAST(COALESCE(c.cur_ppm, 0) AS BIGINT) AS cur_ppm,
       CAST(COALESCE(c.cur_ppm, 0) - COALESCE(r.ref_ppm, 0) AS BIGINT)
         AS delta_ppm,
       CAST(CASE WHEN abs(COALESCE(c.cur_ppm, 0) - COALESCE(r.ref_ppm, 0))
                      > {DRIFT_ALERT_PPM}
                 THEN 1 ELSE 0 END AS INTEGER) AS drift_alert
FROM ref r FULL JOIN cur c ON r.event_type = c.event_type
"""


# ---------------------------------------------- portable Bloom --

BLOOM_M = 1 << 16   # filter bits
BLOOM_K = 4         # hash functions
BLOOM_PROBES = (
    "the", "data", "model", "pipeline", "quantum", "xylophone",
)


def fn_bloom_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom filter over each source's vocabulary, built and
    probed entirely in SQL — completing the mergeable-sketch family
    (HLL distinct, CMS heavy hitters, KMV Jaccard… Bloom membership).
    Per (source, probe-word): the k-of-k bit test verdict plus the
    filter's exact popcount (its fill level, the FPR driver). Same
    engine-portability point as ``approx_distinct_portable``: the
    filter is k md5-derived bit positions, so ANY engine — or an
    ingest service far from Spark — can probe the same filter.

    Scale: the bit table is ≤ m rows per source after the distinct
    (map-side combined); probes are a |probes|·k-row broadcast joined
    against it. Merge across shards = bitwise OR = the same distinct.
    """
    docs = load_table_cpu(spark, sf_dir, "documents")
    # per-doc dedup array-side before the global distinct: the
    # exchange feeding the (source, w) distinct carries per-doc-unique
    # tokens only (round-13 optimization; same trick as
    # text_ngram_novelty — repeats of a word inside one document never
    # leave the scan task)
    words = docs.select(
        "source",
        F.explode(
            F.array_distinct(F.filter(F.split("text", " "), lambda w: w != ""))
        ).alias("w"),
    ).distinct()
    ks = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("k")
    bits = words.select(
        "source",
        ks,
        "w",
    ).select(
        "source",
        F.pmod(
            hash64(F.concat(F.lit("bf"), F.col("k").cast("string"),
                            F.lit("#"), F.col("w"))),
            F.lit(BLOOM_M),
        ).alias("bit"),
    ).distinct().localCheckpoint(eager=False)
    # ^ bits has TWO consumers (popcount and the probe join); without
    # the checkpoint AQE compiles them independently and the whole
    # two-distinct chain — corpus scan included — executes twice
    # (round-13 rescan-audit rule: materialize when the repeated
    # subtree is identical AND expensive; two wide distincts qualify).
    # At 100 TB this is 2 corpus scans → 1.
    pop = bits.groupBy("source").agg(F.count("*").alias("popcount"))
    probes = spark.createDataFrame(
        [(p,) for p in BLOOM_PROBES], "probe string"
    )
    probe_bits = probes.select(
        "probe",
        F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("k"),
    ).select(
        "probe",
        F.pmod(
            hash64(F.concat(F.lit("bf"), F.col("k").cast("string"),
                            F.lit("#"), F.col("probe"))),
            F.lit(BLOOM_M),
        ).alias("bit"),
    )
    hits = (
        bits.join(F.broadcast(probe_bits), "bit")
        .groupBy("source", "probe")
        .agg(F.count("*").alias("n_bits_hit"))
    )
    grid = pop.crossJoin(F.broadcast(probes))
    return (
        grid.join(hits, ["source", "probe"], "left")
        .select(
            "source",
            "probe",
            "popcount",
            F.coalesce("n_bits_hit", F.lit(0)).alias("n_bits_hit"),
            (F.coalesce("n_bits_hit", F.lit(0)) == BLOOM_K)
            .cast("int").alias("maybe_present"),
        )
    )


def _bloom_sql() -> str:
    h = hash64_sql("'bf' || CAST(k AS VARCHAR) || '#' || w")
    hp = hash64_sql("'bf' || CAST(k AS VARCHAR) || '#' || probe")
    probes = ", ".join(f"('{p}')" for p in BLOOM_PROBES)
    return f"""
WITH words AS (
  SELECT DISTINCT source, w FROM (
    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
),
bits AS (
  SELECT DISTINCT source,
         (({h}) % {BLOOM_M} + {BLOOM_M}) % {BLOOM_M} AS bit
  FROM words CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS k)
),
pop AS (SELECT source, COUNT(*) AS popcount FROM bits GROUP BY 1),
probes(probe) AS (VALUES {probes}),
probe_bits AS (
  SELECT probe, (({hp}) % {BLOOM_M} + {BLOOM_M}) % {BLOOM_M} AS bit
  FROM probes CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS k)
),
hits AS (
  SELECT b.source, p.probe, COUNT(*) AS n_bits_hit
  FROM bits b JOIN probe_bits p ON p.bit = b.bit
  GROUP BY 1, 2
)
SELECT g.source, g.probe, CAST(g.popcount AS BIGINT) AS popcount,
       CAST(COALESCE(h.n_bits_hit, 0) AS BIGINT) AS n_bits_hit,
       CAST(CASE WHEN COALESCE(h.n_bits_hit, 0) = {BLOOM_K}
                 THEN 1 ELSE 0 END AS INTEGER) AS maybe_present
FROM (SELECT source, popcount, probe FROM pop CROSS JOIN probes) g
LEFT JOIN hits h ON h.source = g.source AND h.probe = g.probe
"""


FN_BLOOM_SQL = _bloom_sql()


# ------------------------------------------ two-sample KS test --


def dq_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance per event_type between
    the first- and second-half-of-days value distributions — the
    nonparametric "did the SHAPE of the metric change?" test that
    catches what the share-based ``dq_distribution_drift`` cannot
    (same event mix, shifted values).

    EXACT: with values as integer micro-units, D = max_x |F₁−F₂|
    becomes max |cum₁·n₂ − cum₂·n₁| over the merged distinct-value
    grid — all int64 (cum ≤ 3e5, n ≤ 3e5 → 9e10 at sf0.1) — and
    ks_ppm = D·1e6 DIV (n₁·n₂). No ordering ambiguity: the max runs
    over every distinct value, which is where a step CDF attains it.

    Scale: one scan → (type, value, half) counts; the CDF race is a
    window cumsum over the per-type distinct-value table (the
    ``ts_anomaly_mad`` count-table discipline — the raw stream is
    never re-sorted, only its value histogram).
    """
    ev = load_table(spark, sf_dir, "events")
    # NULL measurements are not sample members (the merged value grid
    # would split on NULL ordering — round-8 NaN/Inf sweep)
    base = (
        ev.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            ts_micros().alias("us"),
            F.round(F.col("value") * 1_000_000).cast("long").alias("m"),
        )
        .select("event_type", "m", F.expr("us DIV 86400000000").alias("day"))
    )
    rng = base.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    halved = base.crossJoin(F.broadcast(rng)).select(
        "event_type",
        "m",
        F.when(F.col("day") < F.expr("(d0 + d1 + 1) DIV 2"), 1)
        .otherwise(0).alias("is_ref"),
    )
    counts = halved.groupBy("event_type", "m").agg(
        F.sum("is_ref").alias("c_ref"),
        F.sum(1 - F.col("is_ref")).alias("c_cur"),
    )
    wt = Window.partitionBy("event_type")
    wc = wt.orderBy("m").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = counts.select(
        "event_type",
        F.sum("c_ref").over(wc).alias("cum_ref"),
        F.sum("c_cur").over(wc).alias("cum_cur"),
        F.sum("c_ref").over(wt).alias("n_ref"),
        F.sum("c_cur").over(wt).alias("n_cur"),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.min("n_ref").alias("n_ref"),
            F.min("n_cur").alias("n_cur"),
            F.max(
                F.abs(
                    F.col("cum_ref") * F.col("n_cur")
                    - F.col("cum_cur") * F.col("n_ref")
                )
            ).alias("d_num"),
        )
        .select(
            "event_type", "n_ref", "n_cur", "d_num",
            # an event_type living entirely in one half (e.g. a type
            # INTRODUCED mid-window — routine in production) has an
            # empty other sample and no defined KS distance: DuckDB //
            # NULLs, ANSI DIV throws (1-row-corpus sweep, round 7)
            F.expr(
                "CASE WHEN n_ref * n_cur > 0"
                " THEN (d_num * 1000000) DIV (n_ref * n_cur) END"
            ).alias("ks_ppm"),
        )
    )


DQ_KS_SQL = """
WITH base AS (
  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS m,
         epoch_us(ts) // 86400000000 AS day
  FROM events WHERE value IS NOT NULL
),
rng AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM base),
halved AS (
  SELECT event_type, m,
         CASE WHEN day < (d0 + d1 + 1) // 2 THEN 1 ELSE 0 END AS is_ref
  FROM base CROSS JOIN rng
),
counts AS (
  SELECT event_type, m, SUM(is_ref) AS c_ref,
         SUM(1 - is_ref) AS c_cur
  FROM halved GROUP BY 1, 2
),
cum AS (
  SELECT event_type,
         SUM(c_ref) OVER (PARTITION BY event_type ORDER BY m
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ref,
         SUM(c_cur) OVER (PARTITION BY event_type ORDER BY m
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cur,
         SUM(c_ref) OVER (PARTITION BY event_type) AS n_ref,
         SUM(c_cur) OVER (PARTITION BY event_type) AS n_cur
  FROM counts
)
SELECT event_type, CAST(MIN(n_ref) AS BIGINT) AS n_ref,
       CAST(MIN(n_cur) AS BIGINT) AS n_cur,
       CAST(MAX(abs(cum_ref * n_cur - cum_cur * n_ref)) AS BIGINT) AS d_num,
       CAST((MAX(abs(cum_ref * n_cur - cum_cur * n_ref)) * 1000000)
            // (MIN(n_ref) * MIN(n_cur)) AS BIGINT) AS ks_ppm
FROM cum GROUP BY 1
"""


# ------------------------------------- relationship cardinality --


def dq_relationship_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential cardinality map for the star schema's four FK
    relations (orders→customer, lineitem→orders, lineitem→part,
    lineitem→supplier): child rows, referenced parents, orphan
    children, max fan-out per parent, and mean fan-out ×1000 — the
    one-page report data modeling reviews start from (an unexpected
    orphan count or fan-out explosion is a broken load, visible
    before any query goes wrong).

    Per relation: one child-side count aggregate keyed by the FK +
    one left join against the parent key set (broadcast for dims) —
    no row-level output, |relations| result rows.
    """
    rels = [
        ("orders.o_custkey->customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
         "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
         "supplier", "s_suppkey"),
    ]
    out = None
    for name, child, fk, parent, pk in rels:
        c = load_table(spark, sf_dir, child).groupBy(
            F.col(fk).alias("k")
        ).agg(F.count("*").alias("fan"))
        p = load_table(spark, sf_dir, parent).select(
            F.col(pk).alias("k")
        ).distinct()
        j = c.join(p.withColumn("has_parent", F.lit(1)), "k", "left")
        rel = j.agg(
            F.lit(name).alias("relation"),
            F.sum("fan").alias("n_child_rows"),
            F.sum(F.when(F.col("has_parent").isNotNull(), 1).otherwise(0))
            .alias("n_parents_referenced"),
            F.sum(
                F.when(F.col("has_parent").isNull(), F.col("fan")).otherwise(0)
            ).alias("n_orphan_rows"),
            F.max("fan").alias("max_fanout"),
            F.expr("(SUM(fan) * 1000) DIV COUNT(*)").alias("mean_fanout_e3"),
        )
        out = rel if out is None else out.unionByName(rel)
    return out


def _rel_profile_branch(name, child, fk, parent, pk) -> str:
    return f"""
  SELECT '{name}' AS relation,
         CAST(SUM(fan) AS BIGINT) AS n_child_rows,
         CAST(SUM(CASE WHEN has_parent THEN 1 ELSE 0 END) AS BIGINT)
           AS n_parents_referenced,
         CAST(SUM(CASE WHEN has_parent THEN 0 ELSE fan END) AS BIGINT)
           AS n_orphan_rows,
         CAST(MAX(fan) AS BIGINT) AS max_fanout,
         CAST((SUM(fan) * 1000) // COUNT(*) AS BIGINT) AS mean_fanout_e3
  FROM (
    SELECT c.k, c.fan, p.k IS NOT NULL AS has_parent
    FROM (SELECT {fk} AS k, COUNT(*) AS fan FROM {child} GROUP BY 1) c
    LEFT JOIN (SELECT DISTINCT {pk} AS k FROM {parent}) p ON p.k = c.k
  )"""


DQ_REL_PROFILE_SQL = "\nUNION ALL\n".join(
    _rel_profile_branch(*r)
    for r in [
        ("orders.o_custkey->customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
         "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
         "supplier", "s_suppkey"),
    ]
)


# -------------------------------------------------- k-anonymity --

KANON_K = 5
KANON_BUCKET = 100


def privacy_kanon_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymized release of the event log: user ids generalized to
    buckets of 100, (event_type, day, bucket) cells below k=5 rows
    SUPPRESSED, surviving cells released with exact counts and value
    sums — the governance step before an event extract leaves the
    boundary, with the suppression tally carried per (type, day) so
    reviewers see what the privacy floor cost.

    One scan → cell aggregate → HAVING-style filter; the suppression
    tally is a second tiny aggregate over the cell table, joined
    back broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            ts_micros().alias("us"),
            F.expr(f"user_id DIV {KANON_BUCKET}").alias("user_bucket"),
            cents("value").alias("cents"),
        )
        .select(
            "event_type",
            F.expr("us DIV 86400000000").alias("day"),
            "user_bucket",
            "cents",
        )
        .groupBy("event_type", "day", "user_bucket")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
    )
    supp = cells.groupBy("event_type", "day").agg(
        F.sum(F.when(F.col("n") < KANON_K, 1).otherwise(0))
        .alias("n_suppressed_cells"),
        F.sum(F.when(F.col("n") < KANON_K, F.col("n")).otherwise(0))
        .alias("n_suppressed_rows"),
    )
    return (
        cells.filter(F.col("n") >= KANON_K)
        .join(F.broadcast(supp), ["event_type", "day"])
        .select(
            "event_type", "day", "user_bucket", "n", "sum_cents",
            "n_suppressed_cells", "n_suppressed_rows",
        )
    )


PRIVACY_KANON_SQL = f"""
WITH cells AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         user_id // {KANON_BUCKET} AS user_bucket,
         COUNT(*) AS n,
         SUM(CAST(round(value * 100) AS BIGINT)) AS sum_cents
  FROM events GROUP BY 1, 2, 3
),
supp AS (
  SELECT event_type, day,
         SUM(CASE WHEN n < {KANON_K} THEN 1 ELSE 0 END)
           AS n_suppressed_cells,
         SUM(CASE WHEN n < {KANON_K} THEN n ELSE 0 END)
           AS n_suppressed_rows
  FROM cells GROUP BY 1, 2
)
SELECT c.event_type, CAST(c.day AS BIGINT) AS day,
       CAST(c.user_bucket AS BIGINT) AS user_bucket,
       CAST(c.n AS BIGINT) AS n, CAST(c.sum_cents AS BIGINT) AS sum_cents,
       CAST(s.n_suppressed_cells AS BIGINT) AS n_suppressed_cells,
       CAST(s.n_suppressed_rows AS BIGINT) AS n_suppressed_rows
FROM cells c JOIN supp s ON s.event_type = c.event_type AND s.day = c.day
WHERE c.n >= {KANON_K}
"""


# ---------------------------------------------- rounding audit --


def fn_rounding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money-rounding policy audit: for value→cents conversion, how
    often HALF-UP (Spark/DuckDB ``round``) and HALF-EVEN (banker's,
    IEEE default) disagree, and the total drift in cents between the
    two policies — the reconciliation explainer when two systems
    "round differently" (the classic penny-gap incident). Banker's
    rounding is derived integer-exactly from the half-up result: the
    policies differ only at exact .5, where half-even keeps the even
    neighbor.

    One scan, one aggregate row per event_type.
    """
    ev = load_table(spark, sf_dir, "events")
    v2 = F.col("value") * 200  # exact-half test: value*100 is k+0.5 ⇔ v2 odd
    half_up = F.round(F.col("value") * 100).cast("long")
    is_exact_half = (v2 == F.floor(v2)) & (
        F.pmod(F.floor(v2).cast("long"), F.lit(2)) == 1
    )
    # at an exact half, half-up went AWAY from zero; half-even keeps
    # the even neighbor: subtract the sign when the half-up result is odd
    banker = F.when(
        is_exact_half & (F.pmod(half_up, F.lit(2)) != 0),
        half_up - F.signum("value").cast("long"),
    ).otherwise(half_up)
    per = ev.select(
        "event_type", half_up.alias("hu"), banker.alias("be")
    )
    return per.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        # when/otherwise(0), not a bare cast: a NULL measurement has no
        # roundings to disagree, and a key whose EVERY value is missing
        # must count 0 like the oracle's CASE..ELSE 0, not SUM(NULL)
        # (round-9 zero-variance sweep)
        F.sum(
            F.when(F.col("hu") != F.col("be"), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_diff"),
        F.sum("hu").alias("sum_half_up"),
        F.sum("be").alias("sum_bankers"),
        (F.sum("hu") - F.sum("be")).alias("drift_cents"),
    )


FN_ROUNDING_SQL = """
WITH per AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS hu,
         CASE WHEN value * 200 = floor(value * 200)
                   -- sign-safe odd test: DuckDB % keeps the dividend's
                   -- sign (-25 % 2 = -1), so `= 1` misses negative
                   -- exact halves while Spark's pmod hits them
                   AND CAST(floor(value * 200) AS BIGINT) % 2 <> 0
                   AND CAST(round(value * 100) AS BIGINT) % 2 <> 0
              THEN CAST(round(value * 100) AS BIGINT)
                   - CAST(CASE WHEN value > 0 THEN 1
                               WHEN value < 0 THEN -1 ELSE 0 END AS BIGINT)
              ELSE CAST(round(value * 100) AS BIGINT) END AS be
  FROM events
)
SELECT event_type, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN hu <> be THEN 1 ELSE 0 END) AS BIGINT) AS n_diff,
       CAST(SUM(hu) AS BIGINT) AS sum_half_up,
       CAST(SUM(be) AS BIGINT) AS sum_bankers,
       CAST(SUM(hu) - SUM(be) AS BIGINT) AS drift_cents
FROM per GROUP BY 1
"""


# ------------------------------------------- dataset manifest --

_MANIFEST_TABLES = [
    # (table, pk expr, value expr rendered to string — both engines)
    ("region", "r_regionkey", "r_name"),
    ("nation", "n_nationkey", "n_name"),
    ("customer", "c_custkey", "CAST(c_nationkey AS STRING)"),
    ("supplier", "s_suppkey", "CAST(s_nationkey AS STRING)"),
    ("part", "p_partkey", "p_type"),
    ("orders", "o_orderkey",
     "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"),
    ("lineitem", "l_orderkey",
     "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS STRING)"),
    ("events", "event_id",
     "CAST(CAST(round(value * 100) AS BIGINT) AS STRING)"),
    ("documents", "doc_id", "CAST(n_chars AS STRING)"),
    ("embeddings", "vec_id", "CAST(label AS STRING)"),
]


def dq_pipeline_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version manifest: ONE row per fixture table with its
    row count and an order-free XOR-fold digest over (pk, canonical
    value) — the thing two environments diff to prove they trained on
    the same data (``dq_checksum_buckets`` localizes WITHIN a table;
    this pins the whole dataset in ten rows). XOR of per-row hashes
    is commutative and width-preserving, so the digest is identical
    under any partitioning or row order.

    One aggregate per table, unioned; every scan prunes to two
    columns.
    """
    out = None
    for name, pk, val in _MANIFEST_TABLES:
        t = load_table(spark, sf_dir, name)
        row_h = hash64(
            F.concat(
                F.expr(f"CAST({pk} AS STRING)"), F.lit("|"), F.expr(val)
            )
        )
        agg = t.select(row_h.alias("h")).agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(h)").alias("digest"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def _manifest_sql() -> str:
    branches = []
    for name, pk, val in _MANIFEST_TABLES:
        v = val.replace("AS STRING", "AS VARCHAR")
        h = hash64_sql(f"CAST({pk} AS VARCHAR) || '|' || {v}")
        branches.append(
            f"  SELECT '{name}' AS table_name, COUNT(*) AS n_rows,\n"
            f"         bit_xor({h}) AS digest\n"
            f"  FROM {name}"
        )
    return "\nUNION ALL\n".join(branches)


DQ_MANIFEST_SQL = _manifest_sql()
