"""Round-2 extended analytics shapes (build plan M4/M5 widening).

Adds the remaining TPC-H multi-level aggregate shapes the fixture
schema can express (Q11/Q12/Q21 adaptations — no partsupp/shipmode/
receiptdate columns exist, see FIXTURES.md §B; substitutions are
documented per docstring), plus pipeline analytics a training-data
engine needs: exact z-score outlier flagging and integer-exact TF-IDF
term ranking. Everything follows the module conventions of
``relational.py``: broadcast the small side, aggregate in exact
integers (``functions/exact.py``), one deterministic float op at the
end, and a DuckDB oracle kept textually in sync.

Scale notes (100 TB discipline):
 - Q11/Q12/Q21 shuffle only on keys both sides already need
   (orderkey / partkey); dimensions broadcast.
 - ``anomaly_zscore`` is a 2-pass pattern: a tiny per-group moment
   table (|groups| rows) broadcast back against the fact scan — no
   second shuffle of the fact table.
 - ``text_tfidf_topk`` is wordcount-shaped: explode → partial/final
   hash aggregate; document frequencies ride a window over the
   (word)-partitioned tf table, then top-k re-partitions by doc.
 - ``join_salted_skew`` records the deterministic salting pattern for
   skewed fact-fact joins: replicate the small side SALT_N ways so one
   hot key spreads over SALT_N tasks; results are provably identical
   to the unsalted join (same oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import cents, cents_dec, sum_money
from ..functions.ranking import global_cumsum
from ..sources.tables import bcast_gated, load_table, ts_micros, ts_timestamp
from .relational import AGG_SESSION_SQL

_D18 = "decimal(18,0)"
_D38 = "decimal(38,0)"


def q11_important_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — per-part inventory value above a global-share
    threshold. The fixture has no partsupp: the part↔value relation
    comes from lineitem (value = l_extendedprice·l_quantity, exact in
    1e-4 units) restricted to suppliers of nations 0-4. The HAVING
    compares against a scalar subquery; kept exact as
    ``part_value·1000 > total_value`` (0.1 % share) on DECIMAL(38,0)
    integers. The scalar total is one broadcast row; the fact table
    aggregates once on l_partkey."""
    su = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") < 5
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    val = (cents_dec("l_extendedprice") * cents_dec("l_quantity")).cast(_D38)
    # materialize the per-part aggregate once (|parts| rows): both the
    # scalar total and the filter read it, and without the checkpoint
    # Spark would re-run the lineitem join+agg for each consumer
    part_vals = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(val).cast(_D38).alias("val_c4"))
    ).localCheckpoint()
    total = part_vals.agg(F.sum("val_c4").cast(_D38).alias("total_c4"))
    return (
        part_vals.crossJoin(F.broadcast(total))
        .filter(F.col("val_c4") * F.lit(1000).cast(_D18) > F.col("total_c4"))
        .select(
            "l_partkey",
            (F.col("val_c4").cast("double") / F.lit(10000.0)).alias("part_value"),
        )
    )


Q11_SQL = """
WITH pv AS (
  SELECT l_partkey,
         SUM(CAST(round(l_extendedprice*100) AS HUGEINT)
             * CAST(round(l_quantity*100) AS HUGEINT)) AS val_c4
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5)
  GROUP BY 1
)
SELECT l_partkey, CAST(val_c4 AS DOUBLE)/10000.0 AS part_value
FROM pv
WHERE val_c4 * 1000 > (SELECT SUM(val_c4) FROM pv)
"""


def q12_late_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — shipping-mode lateness report: per mode, how
    many late lineitems belong to high- vs low-priority orders. The
    fixture has no l_shipmode/l_receiptdate: l_linestatus stands in for
    the mode and "late" means shipped more than 90 days after the order
    date. One shuffle join on orderkey; the CASE counts are map-side
    combinable longs."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.col("l_linestatus").alias("shipmode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_linestatus AS shipmode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY 1
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who alone held up a multi-supplier
    order: on 'F'-status orders, the supplier with a late lineitem
    (shipped > 90 days after order date; fixture has no
    commit/receiptdate) where at least one other supplier shipped and
    no other supplier was late. Implemented as per-order aggregates
    (supplier count, late-supplier count) rather than correlated
    EXISTS/NOT EXISTS — the aggregate form is one shuffle on orderkey
    and is what Catalyst rewrites such subqueries into anyway. Top 100
    with deterministic tiebreak."""
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_supp = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
                .cast("int")
            ).alias("is_late")
        )
        # two consumers (per_order rollup + the causer filter/join):
        # without this, AQE compiles both independently and the whole
        # lineitem⋈orders join + aggregate runs twice (round-13
        # rescan-audit rule — identical AND expensive subtree). At
        # 100 TB: 2 fact joins → 1.
        .localCheckpoint(eager=False)
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("is_late").alias("n_late"),
    )
    causers = (
        per_supp.filter(F.col("is_late") == 1)
        .join(
            per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
    )
    su = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        causers.join(F.broadcast(su), causers.l_suppkey == su.s_suppkey)
        # regroup by s_name AFTER the key join — the TPC-H output grain
        # is the NAME, so suppliers sharing one (or NULL, one merged
        # group in both engines) must merge exactly as the oracle's
        # GROUP BY s_name does (round-13 STRADV find: grouping by
        # suppkey and selecting the name diverges the moment names
        # stop being unique)
        .groupBy("s_name")
        .agg(F.sum("numwait").alias("numwait"))
        .select("s_name", F.col("numwait").cast("long").alias("numwait"))
        # NULLS LAST to match DuckDB's ascending default — the LIMIT
        # cut must pick identical rows when a NULL name ties
        .orderBy(F.desc("numwait"), F.asc_nulls_last("s_name"))
        .limit(100)
    )


Q21_SQL = """
WITH per_supp AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2
),
per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(is_late) AS n_late
  FROM per_supp GROUP BY 1
)
SELECT s_name, COUNT(*) AS numwait
FROM per_supp
JOIN per_order USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE is_late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier flagging — |v − mean| > 2·σ_sample per event_type,
    decided entirely in exact integer arithmetic so both engines agree
    bit-for-bit. With cents c, per-group sum s, count n, squared-cents
    sum q, the condition (v−mean)² > 4·var is cross-multiplied to

        (c·n − s)² · (n−1)  >  4 · n · (n·q − s²)

    — every term a DECIMAL(38,0)/HUGEINT integer; no division ever
    happens. The per-group moment table is |groups| rows, broadcast
    back against the fact scan: the 2-pass pattern that never shuffles
    the fact table."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    moments = ev.groupBy("event_type").agg(
        F.count("value").cast(_D18).alias("n"),
        F.sum(cents_dec("value")).cast(_D38).alias("s"),
        F.sum((cents_dec("value") * cents_dec("value")).cast(_D38))
        .cast(_D38)
        .alias("q"),
    )
    c = cents_dec("value").cast(_D38)
    dev = (c * F.col("n") - F.col("s")).cast(_D38)
    lhs = (dev * dev).cast(_D38) * (F.col("n") - F.lit(1).cast(_D18)).cast(_D38)
    spread = (F.col("n") * F.col("q") - F.col("s") * F.col("s")).cast(_D38)
    rhs = F.lit(4).cast(_D18) * F.col("n").cast(_D38) * spread
    # a missing measurement is not an outlier: without the isNotNull
    # conjunct the comparison is 3VL-NULL and the engines render the
    # NULL boolean differently (round-8 NaN/Inf sweep)
    return (
        ev.join(F.broadcast(moments), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            (
                F.col("value").isNotNull()
                & (F.col("n") > 1)
                & (lhs.cast(_D38) > rhs.cast(_D38))
            ).alias("is_outlier"),
        )
    )


ANOMALY_ZSCORE_SQL = """
WITH m AS (
  SELECT event_type,
         CAST(COUNT(value) AS HUGEINT) AS n,
         SUM(CAST(round(value*100) AS HUGEINT)) AS s,
         SUM(CAST(round(value*100) AS HUGEINT)
             * CAST(round(value*100) AS HUGEINT)) AS q
  FROM events GROUP BY 1
)
SELECT event_id, e.event_type, value,
       value IS NOT NULL AND n > 1 AND
       (CAST(round(value*100) AS HUGEINT) * n - s)
         * (CAST(round(value*100) AS HUGEINT) * n - s)
         * (n - 1)
       > 4 * n * (n * q - s * s) AS is_outlier
FROM events e JOIN m ON e.event_type = m.event_type
"""


TFIDF_TOPK = 3
TFIDF_SCALE = 1_000_000


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style rare-term ranking, integer-exact: per document the
    top-3 terms by score = (tf · 1e6) DIV df (term frequency scaled,
    integer-divided by corpus document frequency — a logarithm-free
    tf/df rank that both engines compute identically; a float idf
    would differ in the last ulp between libms). Ties break on the
    term string. Wordcount-shaped dataflow: explode → hash-aggregate
    tf per (doc, word); df is COUNT over a (word)-window on the tf
    table (the tf table has one row per (doc, word), so the window
    count IS the document frequency); top-k repartitions by doc."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_w = F.count("*").over(Window.partitionBy("word"))
    scored = tf.withColumn("df", df_w).withColumn(
        "score", F.expr(f"(tf * {TFIDF_SCALE}) DIV df")
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= TFIDF_TOPK)
        .select("doc_id", "word", "tf", "df", "score", "rn")
    )


TEXT_TFIDF_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf
  FROM words WHERE word <> '' GROUP BY 1, 2
),
scored AS (
  SELECT doc_id, word, tf,
         COUNT(*) OVER (PARTITION BY word) AS df,
         (tf * {TFIDF_SCALE}) // (COUNT(*) OVER (PARTITION BY word)) AS score
  FROM tf
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, word ASC) AS rn
  FROM scored
)
SELECT doc_id, word, tf, df, score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {TFIDF_TOPK}
"""


SALT_N = 8


def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted join — the skew-mitigation pattern proven
    result-identical to the plain join (same oracle). The probe side
    (lineitem) computes salt = l_linenumber % SALT_N; the build side
    (orders) is replicated SALT_N× via explode(sequence(...)), and the
    join key becomes (orderkey, salt), spreading any hot orderkey over
    SALT_N reduce tasks. At 100 TB this is the manual fallback when
    AQE skew-join splitting can't apply (e.g. a stateful/bucketed
    stage); salting is deterministic (a column function, not rand())
    so retries and the oracle agree. Revenue per priority class is an
    exact cents sum."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_N - 1))))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_extendedprice",
        # pmod, NOT %: Java % keeps the dividend's sign, so a negative
        # salt source mints a salt outside the build side's replicated
        # 0..SALT_N-1 range and the row is SILENTLY dropped from the
        # join — breaking the salted==plain identity this operator
        # exists to prove (round-13 INTADV find: revenue silently low
        # under one negative l_linenumber)
        F.pmod(F.col("l_linenumber"), F.lit(SALT_N)).alias("salt"),
    )
    return (
        li.join(od, (li.l_orderkey == od.o_orderkey) & (li.salt == od.salt))
        .groupBy("o_orderpriority")
        .agg(sum_money("l_extendedprice").alias("revenue"))
    )


JOIN_SALTED_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0
         AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def agg_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows, batch form — 2-day windows advancing
    by 1 day, so every event lands in exactly two windows (tumbling and
    session shapes are covered elsewhere; this is the overlapping
    case). Epoch-aligned window() starts fall on day boundaries, which
    the oracle reproduces by fanning each event to day_trunc(ts) − k
    days for k ∈ {0,1}. Counts and exact cents sums per (window,
    event_type). The same body runs under a watermark as
    ``streaming/pipelines.stream_sliding_window``."""
    ev = load_table(spark, sf_dir, "events")
    with_ts = ev.withColumn("ev_ts", ts_timestamp())
    return (
        with_ts.groupBy(F.window("ev_ts", "2 days", "1 day"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            F.col("window.start").cast("string").alias("win_start"),
            "event_type",
            "cnt",
            (F.col("sum_cents").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
    )


AGG_SLIDING_SQL = """
SELECT CAST(date_trunc('day', ts) - to_days(CAST(k AS INT)) AS VARCHAR)
         AS win_start,
       event_type, COUNT(*) AS cnt,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
FROM events, range(2) t(k)
GROUP BY 1, 2
"""


# ------------------------------------------------ deterministic sampling --

SPLIT_TRAIN_PCT = 80
SPLIT_VALID_PCT = 90


def sample_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment by key hash — the
    scalable sampling idiom for training-data pipelines. rand()-based
    sampling is irreproducible across retries/partitionings; hashing
    the stable row key gives the same split on every run, every
    engine, every cluster size (and is how leakage-free splits survive
    re-ingestion). Buckets: md5-hash64 mod 100 → <80 train, <90 valid,
    else test. Output is the per-(split, returnflag) contingency table
    with exact sums — the check that the split is unbiased."""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws("#", F.col("l_orderkey"), F.col("l_linenumber"))
    from ..functions.hashing import hash64

    bucket = F.pmod(hash64(key), F.lit(100))
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VALID_PCT, "valid")
        .otherwise("test")
    )
    return (
        li.select(split.alias("split"), "l_returnflag", "l_extendedprice")
        .groupBy("split", "l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            sum_money("l_extendedprice").alias("sum_price"),
        )
    )


SAMPLE_SPLIT_SQL = f"""
SELECT CASE
         WHEN CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '#'
                || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) % 100
              < {SPLIT_TRAIN_PCT} THEN 'train'
         WHEN CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '#'
                || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) % 100
              < {SPLIT_VALID_PCT} THEN 'valid'
         ELSE 'test' END AS split,
       l_returnflag, COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0
         AS sum_price
FROM lineitem
GROUP BY 1, 2
"""


# ------------------------------------------------ portable bloom filter --

BLOOM_BITS = 1 << 16   # 65536 bits = 2048 32-bit cells
BLOOM_K = 3
_CELL_BITS = 32


def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join: build a 64 Kbit / 3-hash filter over the
    urgent-order keys, probe every distinct lineitem orderkey, and
    report filter quality against the exact semi-join. The pattern
    that matters at 100 TB: the filter is a ~2048-row bit-cell table
    (broadcastable kilobytes) that prunes the fact scan BEFORE the
    real join — Spark's own runtime row-group pruning
    (spark.sql.optimizer.runtime.bloomFilter) does this with a private
    sketch; this portable build makes the mechanics explicit and
    oracle-checkable (no false negatives, measured false-positive
    count). Bit cells are 32-bit so every mask fits signed arithmetic
    in both engines."""
    from ..functions.hashing import hash64

    build = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").cast("string").alias("bkey"))
        .distinct()
        # two consumers (filter cells + exact-membership semi-join):
        # one orders scan + DISTINCT instead of two (round-13 rescan
        # rule, same treatment the probe side got).
        # Round-14 adjudication of the r13 driver row's 1.73->3.17 s
        # "regression": a controlled 3-way interleave (this form vs no
        # materialization vs persist(MEMORY_AND_DISK)) measured
        # cold mins 3.52 / 3.78 / 3.93 s and warmed medians
        # 2.19 / 2.32 / 3.54 s — the checkpoint wins BOTH regimes, and
        # the same-window bench interleave read old 2.575 s vs new
        # 2.552 s. The driver row was a co-tenant spike (its own first
        # reading that night: 7.28 s, rerun 2.58 s).
        .localCheckpoint(eager=False)
    )
    ks = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("j")
    pos_of = lambda keycol: F.pmod(  # noqa: E731
        hash64(F.concat_ws("#", F.col("j"), keycol)), F.lit(BLOOM_BITS)
    )
    # shiftleft's amount must be a column here → F.expr (the pyspark
    # helper only takes a literal int)
    mask_of = F.expr(f"shiftleft(1L, CAST(pos % {_CELL_BITS} AS INT))")
    cells = (
        build.select("bkey", ks)
        .select((pos_of(F.col("bkey"))).alias("pos"))
        .select(
            (F.col("pos") / _CELL_BITS).cast("int").alias("cell"),
            mask_of.alias("m"),
        )
        .groupBy("cell")
        .agg(F.bit_or("m").alias("mask"))
    )
    # one materialization for the three consumers (probe hash pass,
    # exact semi-join, denominator): without it the fact scan +
    # distinct re-executes per subtree — AQE compiles the crossJoined
    # aggregates independently, so there is NO ReusedExchange (plan
    # audit, round 13: 3 lineitem FileScans in one query). At 100 TB
    # that is three full fact scans for one answer.
    probe = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").cast("string").alias("pkey"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    probed = (
        probe.select("pkey", ks)
        .select("pkey", pos_of(F.col("pkey")).alias("pos"))
        .select(
            "pkey",
            (F.col("pos") / _CELL_BITS).cast("int").alias("cell"),
            mask_of.alias("m"),
        )
        .join(F.broadcast(cells), "cell", "left")
        .groupBy("pkey")
        .agg(
            F.sum(
                F.when(
                    F.col("mask").isNotNull()
                    & (F.col("mask").bitwiseAND(F.col("m")) != 0),
                    1,
                ).otherwise(0)
            ).alias("hits")
        )
    )
    # single pass over probed for both counts: it retains every probe
    # key (left join), so the denominator and the candidate count are
    # one aggregate, not two crossJoined ones
    stats = probed.agg(
        F.count("*").alias("n_probe"),
        F.sum((F.col("hits") == BLOOM_K).cast("long")).alias("n_candidates"),
    )
    members = probe.join(
        build, probe.pkey == build.bkey, "left_semi"
    ).select("pkey")
    return (
        stats
        .crossJoin(members.agg(F.count("*").alias("n_members")))
        .select(
            "n_probe",
            "n_candidates",
            "n_members",
            (F.col("n_candidates") - F.col("n_members")).alias("n_false_pos"),
        )
    )


JOIN_BLOOM_SQL = f"""
WITH build AS (
  SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS bkey
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
cells AS (
  SELECT CAST(pos // {_CELL_BITS} AS INT) AS cell,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {_CELL_BITS} AS INT)) AS mask
  FROM (
    SELECT CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || bkey), 1, 15)
                AS BIGINT) % {BLOOM_BITS} AS pos
    FROM build, range({BLOOM_K}) t(j)
  ) p GROUP BY 1
),
probe AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS pkey FROM lineitem),
probed AS (
  SELECT pkey,
         SUM(CASE WHEN mask IS NOT NULL AND (mask & m) <> 0
                  THEN 1 ELSE 0 END) AS hits
  FROM (
    SELECT pkey,
           CAST(pos // {_CELL_BITS} AS INT) AS cell,
           CAST(1 AS BIGINT) << CAST(pos % {_CELL_BITS} AS INT) AS m
    FROM (
      SELECT pkey,
             CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || pkey), 1, 15)
                  AS BIGINT) % {BLOOM_BITS} AS pos
      FROM probe, range({BLOOM_K}) t(j)
    ) h
  ) ph LEFT JOIN cells USING (cell)
  GROUP BY pkey
)
SELECT (SELECT COUNT(*) FROM probe) AS n_probe,
       (SELECT COUNT(*) FROM probed WHERE hits = {BLOOM_K}) AS n_candidates,
       (SELECT COUNT(*) FROM probe WHERE pkey IN (SELECT bkey FROM build))
         AS n_members,
       (SELECT COUNT(*) FROM probed WHERE hits = {BLOOM_K})
         - (SELECT COUNT(*) FROM probe WHERE pkey IN (SELECT bkey FROM build))
         AS n_false_pos
"""


# -------------------------------------------------- char-ngram profile --

PROFILE_CHARS = 200
PROFILE_TOPK = 10


def text_char_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-trigram profile: the classic n-gram
    language-model feature (Cavnar-Trenkle) that lang_id_ngram's
    marker heuristic approximates. Trigrams come from the first 200
    chars of each document (bounding work per row — the profile
    converges long before full text), counted corpus-wide per
    language, top-10 per language with deterministic tiebreak."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.substring("text", 1, PROFILE_CHARS).alias("t")
    )
    n_grams = F.greatest(F.length("t") - 2, F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.col("t").substr(i, F.lit(3)),
    )
    counted = (
        docs.filter(F.length("t") >= 3)
        .select("lang", F.explode(grams).alias("gram"))
        .groupBy("lang", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("gram"))
    )
    return counted.withColumn("rnk", rn).filter(F.col("rnk") <= PROFILE_TOPK)


TEXT_CHAR_NGRAM_SQL = f"""
WITH t AS (
  SELECT lang, substr(text, 1, {PROFILE_CHARS}) AS t
  FROM documents WHERE length(substr(text, 1, {PROFILE_CHARS})) >= 3
),
grams AS (
  SELECT lang, unnest(list_transform(range(1, length(t) - 1),
                                     i -> substr(t, i, 3))) AS gram
  FROM t
),
counted AS (
  SELECT lang, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2
)
SELECT lang, gram, cnt,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY cnt DESC, gram ASC) AS rnk
  FROM counted
) r WHERE rnk <= {PROFILE_TOPK}
"""


# --------------------------------------------- stratified fixed sample --

STRAT_N = 50


def sample_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-stratum sample (N per event_type), selected by
    hash rank — the deterministic replacement for reservoir sampling:
    ordering each stratum by md5(event_id) and keeping the first N is
    a uniform draw that every engine, retry, and cluster size
    reproduces identically. Output is the per-stratum sample summary
    (size + exact value sum) the oracle re-derives with the same
    window."""
    from ..functions.hashing import hash64

    ev = load_table(spark, sf_dir, "events")
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            hash64(F.col("event_id").cast("string")), F.col("event_id")
        )
    )
    return (
        ev.withColumn("rn", rn)
        .filter(F.col("rn") <= STRAT_N)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
    )


SAMPLE_STRAT_SQL = f"""
SELECT event_type, COUNT(*) AS n_sampled,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM (
  SELECT event_type, value,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                         AS BIGINT), event_id) AS rn
  FROM events
) t WHERE rn <= {STRAT_N}
GROUP BY 1
"""


# ------------------------------------------------ cohort retention --


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle over the events stream: users
    are cohorted by first-seen week, and each later week's activity is
    counted against the cohort's size. The workhorse of product/
    training-data freshness analytics.

    Shape at scale: one per-user aggregate (min week — partial/final),
    one distinct per (user, week), one join back on user_id co-
    partitioned by the same key, one small final aggregate. The
    per-user tables are ~|users| rows, orders of magnitude under the
    event count; nothing driver-sized anywhere."""
    ev_raw = load_table(spark, sf_dir, "events")
    ev = ev_raw.select(
        "user_id",
        F.date_trunc("week", ts_timestamp()).alias("week"),
    )
    # two consumers (first-seen aggregate + the cell join): one events
    # scan + wide DISTINCT instead of three (round-13 rescan rule)
    user_weeks = ev.distinct().localCheckpoint(eager=False)
    first = user_weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    joined = user_weeks.join(first, "user_id")
    per_cell = joined.select(
        "user_id",
        "cohort_week",
        (F.datediff("week", "cohort_week") / 7).cast("long").alias("week_offset"),
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    return (
        per_cell.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active"))
        .join(sizes, "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            (
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
    )


COHORT_SQL = """
WITH user_weeks AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
),
first_seen AS (
  SELECT user_id, MIN(week) AS cohort_week FROM user_weeks GROUP BY 1
),
sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM first_seen GROUP BY 1
),
cells AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, u.week) / 7 AS BIGINT)
           AS week_offset,
         COUNT(*) AS n_active
  FROM user_weeks u JOIN first_seen f ON u.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
       c.week_offset,
       CAST(c.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(c.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
FROM cells c JOIN sizes s ON c.cohort_week = s.cohort_week
"""


# ---------------------------------- portable count-min sketch audit --

CMS_D = 4      # hash rows
CMS_W = 256    # counters per row
CMS_TOPK = 20


def approx_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates, audited against the exact
    counts for the top-CMS_TOPK words. Like the portable HLL
    (``approx_distinct_portable``), every step is integer arithmetic
    over the shared md5 ``hash64`` — so the *approximate* answer still
    hash-matches the DuckDB oracle exactly, and the one-sided error
    guarantee (estimate ≥ truth) is testable as an invariant.

    Scale story: the sketch is CMS_D × CMS_W counters — fixed size
    regardless of input (vs the exact count's |vocabulary| keys). Word
    occurrences are pre-aggregated to (word, cnt) BEFORE the CMS_D×
    explode, so the counter build shuffles |vocabulary|×D rows, not
    |occurrences|×D — at corpus scale that is the difference between
    shuffling the corpus four times and shuffling a dictionary. The
    same (word, cnt) frame feeds the exact top-k, so the tokenize scan
    runs once. The audit tail (top-k join) is broadcast-sized."""
    from ..functions.hashing import hash64
    from .wordcount import tokenize

    words = tokenize(load_table(spark, sf_dir, "documents"), "text")
    # one map-side-combinable pass over the corpus: occurrences → vocab.
    # localCheckpoint: both the counter build and the exact top-k read
    # this frame — materialize the (small, vocab-sized) result once
    # instead of re-tokenizing the corpus per consumer.
    wc = (
        words.groupBy("word")
        .agg(F.count("*").alias("exact_n"))
        .localCheckpoint(eager=False)
    )
    def cms_coords(df):
        """(word, exact_n) -> one (word, exact_n, d, bucket) row per CMS
        row d — the ONE definition of the sketch's coordinate hash, so
        the counter build and the top-k probe can never drift apart."""
        return df.select(
            "word",
            "exact_n",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.pmod(
                                hash64(
                                    F.concat(F.lit(f"cms{d}:"), F.col("word"))
                                ),
                                F.lit(CMS_W),
                            ).alias("bucket"),
                        )
                        for d in range(CMS_D)
                    ]
                )
            ).alias("c"),
        ).select("word", "exact_n", "c.d", "c.bucket")

    counters = cms_coords(wc).groupBy("d", "bucket").agg(
        F.sum("exact_n").alias("cnt")
    )
    # global top-k via sort+limit, NOT a row_number window: Catalyst
    # plans this as TakeOrderedAndProject (per-partition heaps merged
    # on the driver) — a global window would funnel the whole
    # vocabulary through one partition
    top = wc.orderBy(F.col("exact_n").desc(), F.col("word")).limit(CMS_TOPK)
    top_coords = cms_coords(top)
    return (
        top_coords.join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("word", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "word",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overestimate"),
        )
    )


def _cms_coords_sql(word_expr: str) -> str:
    from ..functions.hashing import hash64_sql

    rows = []
    for d in range(CMS_D):
        h = hash64_sql(f"'cms{d}:' || {word_expr}")
        rows.append(f"({d}, {h} % {CMS_W})")
    return ", ".join(rows)


CMS_SQL = f"""
WITH words AS (
  SELECT word FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
  ) t WHERE word <> ''
),
coords AS (
  SELECT word, c.d, c.bucket
  FROM words, LATERAL (VALUES {_cms_coords_sql('word')}) c(d, bucket)
),
counters AS (
  SELECT d, bucket, COUNT(*) AS cnt FROM coords GROUP BY 1, 2
),
top AS (
  SELECT word, exact_n FROM (
    SELECT word, COUNT(*) AS exact_n,
           row_number() OVER (ORDER BY COUNT(*) DESC, word) AS rnk
    FROM words GROUP BY word
  ) t WHERE rnk <= {CMS_TOPK}
),
top_coords AS (
  SELECT word, exact_n, c.d, c.bucket
  FROM top, LATERAL (VALUES {_cms_coords_sql('word')}) c(d, bucket)
)
SELECT t.word, CAST(t.exact_n AS BIGINT) AS exact_n,
       CAST(MIN(co.cnt) AS BIGINT) AS cms_est,
       CAST(MIN(co.cnt) - t.exact_n AS BIGINT) AS overestimate
FROM top_coords t JOIN counters co ON t.d = co.d AND t.bucket = co.bucket
GROUP BY t.word, t.exact_n
"""


# ---------------------------------------------- bucketized interval join --

_HOUR_US = 3_600_000_000
HOT_HOURS_K = 5


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join, the scalable way: user sessions
    (event-time intervals from ``relational.agg_session_window``)
    joined to the corpus's HOT HOURS (top-5 busiest hour buckets) they
    overlap. An interval×interval join is a quadratic trap; bucketing
    one side to hour grain and keeping the other side tiny (a top-K
    list) turns it into a broadcast theta-join — the inner side is K
    rows, so Spark's BroadcastNestedLoopJoin is a map-side filter, no
    shuffle of the session side beyond what sessionization itself
    required."""
    from .relational import agg_session_window

    sessions = agg_session_window(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    hot = (
        ev.select(ts_micros().alias("us"))
        .select(F.expr(f"us DIV {_HOUR_US}").alias("hour_bucket"))
        .groupBy("hour_bucket")
        .agg(F.count("*").alias("hour_events"))
        .orderBy(F.col("hour_events").desc(), F.col("hour_bucket"))
        .limit(HOT_HOURS_K)
    )
    cond = (
        (F.col("hour_bucket") >= F.expr(f"session_start_us DIV {_HOUR_US}"))
        & (F.col("hour_bucket") <= F.expr(f"(session_end_us - 1) DIV {_HOUR_US}"))
    )
    return sessions.join(F.broadcast(hot), cond).select(
        "user_id", "session_start_us", "hour_bucket", "n_events", "hour_events"
    )


JOIN_INTERVAL_SQL = f"""
WITH sessions AS ({AGG_SESSION_SQL.strip()}),
hours AS (
  SELECT epoch_us(ts) // {_HOUR_US} AS hour_bucket, COUNT(*) AS hour_events
  FROM events GROUP BY 1
),
hot AS (
  SELECT * FROM hours ORDER BY hour_events DESC, hour_bucket
  LIMIT {HOT_HOURS_K}
)
SELECT s.user_id, s.session_start_us, h.hour_bucket, s.n_events, h.hour_events
FROM sessions s JOIN hot h
  ON h.hour_bucket BETWEEN s.session_start_us // {_HOUR_US}
                       AND (s.session_end_us - 1) // {_HOUR_US}
"""


def sample_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-holdout split: hash the GROUP key (user_id), not the row,
    so every event of a user lands in the same train/valid/test split
    — the leakage-free discipline when examples within a group are
    correlated (row-hash splits, like ``sample_split_hash``, would put
    one user's history on both sides of the wall). Same deterministic
    md5-hash64 buckets; per-split distinct-user and event counts with
    exact sums prove the partition is a true user-level partition.

    One partial/final aggregate; the group hash is a scan-side
    expression, no extra shuffle beyond the count's."""
    ev = load_table(spark, sf_dir, "events")
    from ..functions.hashing import hash64

    bucket = F.pmod(hash64(F.col("user_id").cast("string")), F.lit(100))
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VALID_PCT, "valid")
        .otherwise("test")
    )
    return (
        ev.select(split.alias("split"), "user_id", cents("value").alias("c"))
        .groupBy("split")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
            (F.sum("c").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
    )


SAMPLE_GROUP_HOLDOUT_SQL = f"""
WITH b AS (
  SELECT user_id, value,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 100 AS bucket
  FROM events
)
SELECT CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {SPLIT_VALID_PCT} THEN 'valid'
            ELSE 'test' END AS split,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 100.0 AS sum_value
FROM b GROUP BY 1
"""


DOD_ALERT_PCT = 20  #: alert when |day-over-day change| exceeds this %


def dq_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day volume monitoring: per (event_type, day) counts,
    the previous day's count via lag, and an alert flag when the
    change exceeds DOD_ALERT_PCT percent — the freshness/volume alarm
    every ingest pipeline runs. The percent compare is cross-
    multiplied in integers (|cur-prev|*100 > prev*PCT), so the flag is
    engine-exact with no float division.

    One partial/final count aggregate, one lag window per type —
    both keyed small (types × days)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date(ts_timestamp()).alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    return (
        daily.withColumn("prev_n", F.lag("n").over(w))
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "n",
            "prev_n",
            F.when(
                F.col("prev_n").isNotNull()
                & (
                    F.abs(F.col("n") - F.col("prev_n")) * 100
                    > F.col("prev_n") * DOD_ALERT_PCT
                ),
                True,
            )
            .otherwise(False)
            .alias("alert"),
        )
    )


DQ_DOD_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, day, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
  FROM daily
)
SELECT event_type, CAST(day AS VARCHAR) AS day, n, prev_n,
       COALESCE(prev_n IS NOT NULL
                AND abs(n - prev_n) * 100 > prev_n * {DOD_ALERT_PCT},
                FALSE) AS alert
FROM lagged
"""


# ------------------------------------------------------- dyadic EWMA --

EWMA_K = 16  #: events per user in the decay window


def ts_ewma_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of the last 16
    event values with decay 1/2 — computed ENTIRELY in int64.

    EWMA is normally unportable across engines (powers of arbitrary
    floats, order-dependent summation); with dyadic decay the weight
    2^(15-k) is an integer shift, the weighted sum is an exact long,
    and one final divide produces the double — bit-equal in any
    IEEE engine. One window shuffle on user_id; weights/rank are
    codegen'd expressions."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .withColumn("k", F.row_number().over(w) - 1)
        .filter(F.col("k") < EWMA_K)
        .withColumn(
            "wt", F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({EWMA_K - 1} - k AS INT))")
        )
    )
    return ranked.groupBy("user_id").agg(
        F.count("*").alias("n_used"),
        (
            F.sum(F.col("c") * F.col("wt")).cast("double")
            / (F.sum("wt") * 100).cast("double")
        ).alias("ewma_value"),
    )


TS_EWMA_SQL = f"""
WITH ranked AS (
  SELECT user_id,
         CAST(round(value*100) AS BIGINT) AS c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) - 1 AS k
  FROM events
),
w AS (
  SELECT user_id, c,
         (CAST(1 AS BIGINT) << ({EWMA_K - 1} - k)) AS wt
  FROM ranked WHERE k < {EWMA_K}
)
SELECT user_id, COUNT(*) AS n_used,
       CAST(CAST(SUM(c * wt) AS BIGINT) AS DOUBLE)
         / CAST(CAST(SUM(wt) AS BIGINT) * 100 AS DOUBLE) AS ewma_value
FROM w GROUP BY 1
"""


# --------------------------------------------- incremental agg merge --


def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view incremental maintenance, batch edition: the
    standing per-type aggregate is refreshed by merging YESTERDAY'S
    aggregate (all days before the latest) with TODAY'S delta (the
    latest day only) — partials add; the base data is not rescanned.
    The same merge algebra the streaming upsert sink and the rollup
    hierarchy rely on; here the query emits the merged result NEXT TO
    a from-scratch recompute so the equivalence is driver-checked
    column-for-column.

    Base/delta/full are three aggregates over one pushed-filter scan
    each; the merge is a |types|-row full-outer join."""
    ev_raw = load_table(spark, sf_dir, "events")
    ev = (
        ev_raw.select(
            "event_type",
            ts_micros().alias("us"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .select("event_type", F.expr("us DIV 86400000000").alias("d"), "c")
        # four consumers (last-day scalar + base/delta/full aggregates;
        # the day filters are on a DERIVED column, so no pushdown is
        # lost): one events scan instead of four (round-13 rescan-audit
        # rule)
        .localCheckpoint(eager=False)
    )
    last_day = ev.agg(F.max("d").alias("dmax"))
    tagged = ev.crossJoin(F.broadcast(last_day))
    base = (
        tagged.filter(F.col("d") < F.col("dmax"))
        .groupBy("event_type")
        .agg(F.sum("c").alias("s"), F.count("*").alias("n"))
    )
    delta = (
        tagged.filter(F.col("d") == F.col("dmax"))
        .groupBy("event_type")
        .agg(F.sum("c").alias("s"), F.count("*").alias("n"))
    )
    merged = (
        base.select("event_type", F.col("s").alias("bs"), F.col("n").alias("bn"))
        .join(
            delta.select(
                "event_type", F.col("s").alias("ds"), F.col("n").alias("dn")
            ),
            "event_type",
            "full_outer",
        )
        .select(
            "event_type",
            (F.coalesce("bs", F.lit(0)) + F.coalesce("ds", F.lit(0))).alias("ms"),
            (F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
        )
    )
    full = tagged.groupBy("event_type").agg(
        F.sum("c").alias("fs"), F.count("*").alias("n_full")
    )
    return merged.join(full, "event_type").select(
        "event_type",
        "n",
        (F.col("ms").cast("double") / F.lit(100.0)).alias("sum_value"),
        "n_full",
        (F.col("fs").cast("double") / F.lit(100.0)).alias("sum_value_full"),
    )


INCREMENTAL_MERGE_SQL = """
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
         CAST(round(value*100) AS BIGINT) AS c
  FROM events
),
dmax AS (SELECT MAX(d) AS dmax FROM ev),
base AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS s, COUNT(*) AS n
  FROM ev CROSS JOIN dmax WHERE d < dmax GROUP BY 1
),
delta AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS s, COUNT(*) AS n
  FROM ev CROSS JOIN dmax WHERE d = dmax GROUP BY 1
),
merged AS (
  SELECT COALESCE(b.event_type, dl.event_type) AS event_type,
         COALESCE(b.s, 0) + COALESCE(dl.s, 0) AS ms,
         COALESCE(b.n, 0) + COALESCE(dl.n, 0) AS n
  FROM base b FULL OUTER JOIN delta dl ON b.event_type = dl.event_type
),
full_agg AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS fs, COUNT(*) AS n_full
  FROM ev GROUP BY 1
)
SELECT m.event_type, m.n,
       CAST(m.ms AS DOUBLE) / 100.0 AS sum_value,
       f.n_full,
       CAST(f.fs AS DOUBLE) / 100.0 AS sum_value_full
FROM merged m JOIN full_agg f ON m.event_type = f.event_type
"""


# --------------------------------------------------- OHLC bar rollup --

BAR_US = 5 * 60 * 1_000_000  # 5-minute bars


def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick rollup: per (event_type, 5-minute bar) the
    open/high/low/close of ``value`` plus count and exact sum — the
    market-data/metrics downsampling shape.

    One partial/final aggregate on (event_type, bar): open and close
    are struct-min/struct-max over (us, event_id, value) — the
    (us, event_id) pair is unique, so first/last are deterministic
    without a window (a per-bar row_number window would shuffle the
    same data for a worse plan). High/low are plain min/max; the sum
    is integer cents.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        ts_micros().alias("us"),
        "event_id",
        "value",
    ).withColumn("bar", F.expr(f"us DIV {BAR_US}"))
    return (
        e.groupBy("event_type", "bar")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("low"),
            F.max("value").alias("high"),
            F.min(F.struct("us", "event_id", "value")).alias("o"),
            F.max(F.struct("us", "event_id", "value")).alias("c"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            "event_type",
            "bar",
            "n",
            F.col("o.value").alias("open"),
            "high",
            "low",
            F.col("c.value").alias("close"),
            "sum_cents",
        )
    )


TS_OHLC_SQL = f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS us, event_id, value,
         epoch_us(ts) // {BAR_US} AS bar
  FROM events
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bar
                            ORDER BY us, event_id) AS rf,
         row_number() OVER (PARTITION BY event_type, bar
                            ORDER BY us DESC, event_id DESC) AS rl
  FROM e
)
SELECT event_type, bar, COUNT(*) AS n,
       MAX(CASE WHEN rf = 1 THEN value END) AS open,
       MAX(value) AS high, MIN(value) AS low,
       MAX(CASE WHEN rl = 1 THEN value END) AS close,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM r GROUP BY 1, 2
"""


# --------------------------------------------- last-touch attribution --

ATTR_WINDOW_US = 7 * 86_400 * 1_000_000  # 7-day lookback


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing last-touch attribution: every ``purchase`` event is
    attributed to the same user's most recent prior ``click`` within a
    7-day lookback (NULL touch columns when none exists) — the
    point-in-time discipline of ``join_pit_training_assembly`` applied
    to the funnel.

    Single shuffle on user_id: clicks and purchases ride ONE window
    pass (``last(..., ignorenulls)`` over rows preceding the current),
    so there is no self-join of the events table; the 7-day cutoff is
    an integer filter applied after the carry-forward. (us, event_id)
    ordering makes equal-timestamp sequences deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        ts_micros().alias("us"),
        "event_id",
        "event_type",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_us = F.when(F.col("event_type") == "click", F.col("us"))
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    attributed = (
        e.withColumn("t_us", F.last(click_us, ignorenulls=True).over(w))
        .withColumn("t_id", F.last(click_id, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
    )
    in_window = F.col("t_us").isNotNull() & (
        F.col("us") - F.col("t_us") <= ATTR_WINDOW_US
    )
    return attributed.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("us").alias("purchase_us"),
        F.when(in_window, F.col("t_id")).alias("touch_id"),
        F.when(in_window, F.col("us") - F.col("t_us")).alias("gap_us"),
    )


ATTRIBUTION_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events
),
c AS (
  SELECT *,
         last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_us,
         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_id
  FROM e
)
SELECT user_id, event_id AS purchase_id, us AS purchase_us,
       CASE WHEN t_us IS NOT NULL AND us - t_us <= {ATTR_WINDOW_US}
            THEN t_id END AS touch_id,
       CASE WHEN t_us IS NOT NULL AND us - t_us <= {ATTR_WINDOW_US}
            THEN us - t_us END AS gap_us
FROM c WHERE event_type = 'purchase'
"""


# --------------------------------------------------- sliding-window DAU --

DAU_DAYS = 7


def ts_sliding_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day sliding distinct active users per day — the canonical
    "sliding distinct" metric that does NOT decompose into mergeable
    partials. The scalable exact form: dedupe to (user, day) grain
    first (the big shrink), then each (user, day) contributes to the 7
    window-days it can serve via a bounded explode, then one
    count-distinct per window day. No day-range self-join of the raw
    events, no window function over users.

    Output days are restricted to days with activity (so day 3 of a
    31-day fixture has a partial lookback by design — stated in the
    oracle too). dau1 (same-day actives) rides along for ratio reads.
    """
    ev = load_table(spark, sf_dir, "events")
    # ud has three consumers (active-day list, window contributions,
    # dau1) — a localCheckpoint here was tried in the round-13
    # optimization pass and REVERTED on measurement (warmed A/B at
    # sf0.1: 0.82 → 0.92 s): the (user, day) distinct is tiny and the
    # materialization round-trip costs more than the repeated
    # scan+distinct. The recomputation-wins branch of the rescan rule.
    ud = ev.select("user_id", F.to_date(ts_timestamp()).alias("day")).distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), DAU_DAYS - 1)
            )
        ).alias("wday"),
    )
    dau7 = (
        contrib.join(F.broadcast(days.withColumnRenamed("day", "wday")), "wday")
        .groupBy("wday")
        .agg(F.countDistinct("user_id").alias("dau7"))
    )
    dau1 = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau1"))
    return (
        dau7.join(dau1, dau7.wday == dau1.day)
        .select(F.col("wday").cast("string").alias("day"), "dau7", "dau1")
    )


TS_SLIDING_DAU_SQL = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
days AS (SELECT DISTINCT day FROM ud)
SELECT CAST(d.day AS VARCHAR) AS day,
       COUNT(DISTINCT u.user_id) AS dau7,
       (SELECT COUNT(DISTINCT u2.user_id) FROM ud u2 WHERE u2.day = d.day)
         AS dau1
FROM days d JOIN ud u ON u.day BETWEEN d.day - {DAU_DAYS - 1} AND d.day
GROUP BY d.day
"""


# ------------------------------------------ grid interval self-join --


def join_interval_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap CONCURRENCY where both sides are large: per
    session, how many OTHER users' sessions were concurrent with it.

    First implementation enumerated candidate pairs via an hour-grid
    equi-join — correct, and the right shape when the PAIRS are the
    product — but concurrency counting is quadratic in per-bucket
    density that way (10× users → 100× pairs; measured: >10 min at the
    10× probe). The shipped form is the lineage-free SWEEP identity

        n_concurrent(a) = #{b : b.start < a.end}
                        − #{b : b.end ≤ a.start} − 1

    (valid because sessions are non-empty and one user's sessions
    never overlap — session_window guarantees next.start > prev.end —
    so the same-user correction is exactly the self row). Both ranks
    are distributed running counts: contributors and query points
    union into one frame, bucket by hour, one per-bucket window sums
    contributors in-order (tag ordering makes the < vs ≤ boundary
    exact), and the tiny per-bucket totals broadcast as prefix
    offsets. Work is O(n log n) with no pair ever materialized —
    10× data now costs ~2× wall. The oracle states the quadratic
    definition directly (feasible for DuckDB at fixture scale).

    NULL-user contract (round-8 NULL-keys sweep): anonymous sessions
    are NOT concurrency participants — the oracle's ``a.user_id <>
    b.user_id`` is NULL for them on either side, so they pair with
    nobody and surface with ``n_concurrent = 0`` through the LEFT
    JOIN. The sweep mirrors that: NULL-user sessions are excluded
    from contributors and query points (they previously fell out of
    the final equi-join entirely — 636 vs 727 rows) and re-enter the
    output with a literal 0.
    """
    from .relational import agg_session_window

    s_all = agg_session_window(spark, sf_dir).localCheckpoint(eager=False)
    s = s_all.filter(F.col("user_id").isNotNull())

    def rank_frame(contrib_v, query_v, contrib_first_on_tie):
        """Running count of contributor values relative to each query
        point. contrib_first_on_tie=True counts ties (≤ semantics);
        False excludes them (< semantics)."""
        contrib = s.select(
            contrib_v.alias("v"),
            F.lit(1).alias("is_c"),
            F.lit(None).cast("long").alias("qid_user"),
            F.lit(None).cast("long").alias("qid_start"),
        )
        queries = s.select(
            query_v.alias("v"),
            F.lit(0).alias("is_c"),
            F.col("user_id").alias("qid_user"),
            F.col("session_start_us").alias("qid_start"),
        )
        u = contrib.unionByName(queries).withColumn(
            "hb", F.expr(f"v DIV {_HOUR_US}")
        )
        tie = F.col("is_c").desc() if contrib_first_on_tie else F.col("is_c").asc()
        w = (
            Window.partitionBy("hb")
            .orderBy(F.col("v"), tie)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        # contributors strictly before this row in (v, tie) order
        ranked = u.withColumn(
            "in_bucket", F.coalesce(F.sum("is_c").over(w), F.lit(0))
        )
        # prefix offsets: contributors in earlier buckets. Aggregated
        # over EVERY bucket present in the union (a bucket holding only
        # query points still needs the true prefix, not zero) — tiny
        # table, one ordered window over |buckets| rows.
        per_bucket = u.groupBy("hb").agg(F.sum("is_c").alias("bn"))
        wb = Window.orderBy("hb").rowsBetween(Window.unboundedPreceding, -1)
        offsets = per_bucket.select(
            "hb", F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("before")
        )
        return (
            ranked.filter(F.col("is_c") == 0)
            .join(F.broadcast(offsets), "hb")
            .select(
                F.col("qid_user").alias("user_id"),
                F.col("qid_start").alias("session_start_us"),
                (F.coalesce(F.col("before"), F.lit(0)) + F.col("in_bucket")).alias(
                    "rank"
                ),
            )
        )

    # counting ties must NOT count: b.start < a.end → query-before-
    # contributor on equal v (contrib_first_on_tie=False)
    r1 = rank_frame(
        F.col("session_start_us"), F.col("session_end_us"), False
    ).withColumnRenamed("rank", "r1")
    # b.end ≤ a.start → contributor-before-query on equal v
    r2 = rank_frame(
        F.col("session_end_us"), F.col("session_start_us"), True
    ).withColumnRenamed("rank", "r2")
    keys = ["user_id", "session_start_us"]
    counted = (
        s.join(r1, keys)
        .join(r2, keys)
        .select(
            "user_id",
            "session_start_us",
            "session_end_us",
            "n_events",
            (F.col("r1") - F.col("r2") - F.lit(1)).cast("long").alias("n_concurrent"),
        )
    )
    anonymous = s_all.filter(F.col("user_id").isNull()).select(
        "user_id",
        "session_start_us",
        "session_end_us",
        "n_events",
        F.lit(0).cast("long").alias("n_concurrent"),
    )
    return counted.unionByName(anonymous)


JOIN_INTERVAL_GRID_SQL = f"""
WITH sessions AS ({{AGG_SESSION}}),
pairs AS (
  SELECT a.user_id, a.session_start_us, COUNT(*) AS n_concurrent
  FROM sessions a JOIN sessions b
    ON a.user_id <> b.user_id
   AND a.session_start_us < b.session_end_us
   AND b.session_start_us < a.session_end_us
  GROUP BY 1, 2
)
SELECT s.user_id, s.session_start_us, s.session_end_us, s.n_events,
       COALESCE(p.n_concurrent, 0) AS n_concurrent
FROM sessions s LEFT JOIN pairs p
  ON s.user_id = p.user_id AND s.session_start_us = p.session_start_us
"""

JOIN_INTERVAL_GRID_SQL = JOIN_INTERVAL_GRID_SQL.replace(
    "{AGG_SESSION}", AGG_SESSION_SQL.strip()
)


# ------------------------------------------------ exact OLS trend --


def agg_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value against event time (the
    drift/trend monitor: is this metric creeping up?): slope in
    value-units per hour, intercept at the epoch hour, and R² — the
    regr_slope/regr_intercept/regr_r2 family computed from exact
    integer moments.

    Portability: x = epoch hours (integer), y = integer cents, and the
    four sufficient statistics (Σx, Σy, Σxy, Σx², Σy², n) are exact
    int64/decimal sums — associative, partition-order-free. The final
    slope/intercept/R² are a fixed expression over those identical
    integers, so both engines produce bit-equal doubles. One
    partial/final aggregate; no window, no second pass.
    """
    ev = load_table(spark, sf_dir, "events")
    # epoch hour via exact integer division (module discipline: a
    # double quotient + cast would truncate in Spark but round in a
    # DuckDB CAST, and loses exactness beyond 2^53 µs anyway)
    us = ts_micros()
    x = ((us - F.pmod(us, F.lit(3_600_000_000))) / F.lit(3_600_000_000)).cast(
        "long"
    )
    y = cents("value")
    base = ev.select("event_type", x.alias("x"), y.alias("y"))
    g = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(_D38)).cast(_D38).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(_D38)).cast(_D38).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(_D38)).cast(_D38).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov_n = sxy - sx * sy / n          # n·cov
    var_x_n = sxx - sx * sx / n        # n·var(x)
    var_y_n = syy - sy * sy / n
    # try_divide: a type whose events all fall in one epoch-hour has
    # var_x_n = 0 (constant values zero var_y_n for r2) — ANSI `/`
    # would throw DIVIDE_BY_ZERO where the oracle's double divide
    # yields NULL
    slope = F.try_divide(cov_n, var_x_n)   # cents per hour
    return g.select(
        "event_type",
        "n",
        (slope / F.lit(100.0)).alias("slope_per_hour"),
        ((sy / n - slope * sx / n) / F.lit(100.0)).alias("intercept"),
        F.try_divide(cov_n * cov_n, var_x_n * var_y_n).alias("r2"),
    )


AGG_REGRESSION_SQL = """
WITH base AS (
  SELECT event_type,
         epoch_us(ts) // 3600000000 AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
),
g AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
  FROM base GROUP BY 1
)
SELECT event_type, n,
       ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
         / 100.0 AS slope_per_hour,
       (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
          * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 AS intercept,
       ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
       / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
         AS r2
FROM g
"""


# ------------------------------------------------- MAD outlier audit --


def _with_median_picks(df: DataFrame, v: str) -> DataFrame:
    """Tag each (event_type, v, n, cum, tot) row with lo/hi median
    picks: the value at 1-indexed position p is the least v whose
    cumulative count reaches p (p = (tot+1) DIV 2 and (tot+2) DIV 2 —
    integer division, so both engines agree)."""
    return df.select(
        "event_type",
        v,
        "n",
        "tot",
        F.when(F.col("cum") >= F.expr("(tot + 1) DIV 2"), F.col(v)).alias("pk_lo"),
        F.when(F.col("cum") >= F.expr("(tot + 2) DIV 2"), F.col(v)).alias("pk_hi"),
    )


def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event_type: flag events farther
    than 3 median-absolute-deviations from the median — the
    skew-immune alternative to ``anomaly_zscore`` (one fat-tailed
    burst inflates a stddev but barely moves a MAD).

    EXACT end-to-end: values become integer micro-units; the median is
    found positionally on the (type, value)-aggregated count table (2x
    the median stays an integer: lo+hi picks), deviations are
    2·|x−med| integers, the MAD repeats the positional pick on the
    deviation table, and the 3-MAD verdict is the integer comparison
    2·dev2 > 3·mad4. No FP quotient anywhere, so both engines agree
    bit-for-bit — the reason this is oracle-checkable at all.

    Scale: both medians run as windows over per-type DISTINCT-value
    count tables (same shape/caveat as ``feature_quantile_bins``: on
    near-continuous data that is the inherent cost of exactness; the
    100 TB form swaps in approx_percentile's mergeable KLL sketch and
    keeps this as the sample-scale auditor). The two median frames are
    5-row broadcasts back onto the aggregated tables — the raw event
    stream is scanned once.
    """
    ev = load_table(spark, sf_dir, "events")
    # a NULL value is a missing measurement, not a census member: a
    # NULL m bucket would corrupt the positional median (Spark windows
    # order NULL first, DuckDB last — round-8 NaN/Inf sweep)
    vc = (
        ev.filter(F.col("value").isNotNull())
        .select(
            "event_type", F.round(F.col("value") * 1_000_000).cast("long").alias("m")
        )
        .groupBy("event_type", "m")
        .agg(F.count("*").alias("n"))
        # vc feeds the median window AND the deviation rebuild; dev
        # below likewise has two consumers. Unchecked, AQE compiles
        # each consumer independently and the events scan runs 5×
        # (round-13 rescan audit). Materializing the (type, m, n)
        # count table once cuts that to a single scan — A/B-measured
        # warmed at sf0.1: 1.46 → 1.24 s median, and the win only
        # grows where the scan is 100 TB.
        .localCheckpoint(eager=False)
    )
    wt = Window.partitionBy("event_type")
    wc = wt.orderBy("m").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_cum = vc.select(
        "event_type", "m", "n",
        F.sum("n").over(wc).alias("cum"), F.sum("n").over(wt).alias("tot"),
    )
    med = _with_median_picks(with_cum, "m").groupBy("event_type").agg(
        (F.min("pk_lo") + F.min("pk_hi")).alias("med2"),
        F.min("tot").alias("n_events"),
    )
    dev = (
        vc.join(F.broadcast(med.select("event_type", "med2")), "event_type")
        .select(
            "event_type", F.abs(2 * F.col("m") - F.col("med2")).alias("dev2"), "n"
        )
        .groupBy("event_type", "dev2")
        .agg(F.sum("n").alias("n"))
        .localCheckpoint(eager=False)
    )
    dcum = dev.select(
        "event_type", "dev2", "n",
        F.sum("n").over(wt.orderBy("dev2").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)).alias("cum"),
        F.sum("n").over(wt).alias("tot"),
    )
    mad = _with_median_picks(dcum, "dev2").groupBy("event_type").agg(
        (F.min("pk_lo") + F.min("pk_hi")).alias("mad4")
    )
    out = (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(2 * F.col("dev2") > 3 * F.col("mad4"), F.col("n"))
                  .otherwise(F.lit(0))).alias("n_outliers"),
            F.first("mad4").alias("mad4"),
        )
    )
    return (
        med.join(out, "event_type")
        .select(
            "event_type",
            "n_events",
            "n_outliers",
            (F.col("med2").cast("double") / 2e6).alias("med_value"),
            (F.col("mad4").cast("double") / 4e6).alias("mad_value"),
        )
    )


TS_ANOMALY_MAD_SQL = """
WITH vc AS (
  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS m,
         COUNT(*) AS n
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cumt AS (
  SELECT event_type, m, n,
         SUM(n) OVER (PARTITION BY event_type ORDER BY m) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS tot
  FROM vc
),
med AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= (tot + 1) // 2 THEN m END)
         + MIN(CASE WHEN cum >= (tot + 2) // 2 THEN m END) AS med2,
         CAST(MIN(tot) AS BIGINT) AS n_events
  FROM cumt GROUP BY 1
),
dev AS (
  SELECT vc.event_type, abs(2 * m - med2) AS dev2, CAST(SUM(n) AS BIGINT) AS n
  FROM vc JOIN med USING (event_type) GROUP BY 1, 2
),
dcum AS (
  SELECT event_type, dev2, n,
         SUM(n) OVER (PARTITION BY event_type ORDER BY dev2) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS tot
  FROM dev
),
mad AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= (tot + 1) // 2 THEN dev2 END)
         + MIN(CASE WHEN cum >= (tot + 2) // 2 THEN dev2 END) AS mad4
  FROM dcum GROUP BY 1
),
outl AS (
  SELECT dev.event_type,
         CAST(SUM(CASE WHEN 2 * dev2 > 3 * mad4 THEN n ELSE 0 END) AS BIGINT)
           AS n_outliers,
         MIN(mad4) AS mad4
  FROM dev JOIN mad USING (event_type) GROUP BY 1
)
SELECT med.event_type, n_events, n_outliers,
       CAST(med2 AS DOUBLE) / 2000000.0 AS med_value,
       CAST(mad4 AS DOUBLE) / 4000000.0 AS mad_value
FROM med JOIN outl ON med.event_type = outl.event_type
"""


# ------------------------------------------- linear-interp resample --


def ts_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with LINEAR INTERPOLATION across gaps — the
    numeric companion to ``ts_resample_ffill`` (a forward fill biases
    a trending series; the interpolated grid is what forecasting
    featurizers actually consume). Per event_type, the hourly mean in
    integer milli-cents; gap hours get
    ``prev + (next − prev)·(h − h_prev) DIV (h_next − h_prev)``,
    hours outside the observed span stay NULL (kind = 'edge' — no
    extrapolation). All arithmetic is integer with non-negative DIV
    numerators via a sign split. (Defensive convention: DuckDB 1.0's
    ``//`` was measured to TRUNCATE like Spark's DIV — ``-7 // 2 =
    -3`` — so the engines agree on negatives too; the split keeps the
    expressions correct even against engines/versions where ``//``
    floors, at zero cost on non-negative data.)

    Scale: one aggregate to (type, hour) cells, a broadcast-scaffold
    explode over the span, and two window passes per type (running
    last-observed backward, and the forward neighbor as a running
    last over DESCENDING hour). The descending form is load-bearing
    (round-13 TIMEADV find): the natural
    ``first(...).over(rowsBetween(currentRow, unboundedFollowing))``
    lands on Spark's UnboundedFollowingWindowFunctionFrame, which
    re-scans the frame tail for EVERY row — O(n²) per partition. At
    the fixture's ~720-hour span that's invisible; at the widest span
    the clock-validity contract admits (1990→2099 ≈ 964k hours, two
    in-window rows suffice to create it) the quadratic burned 15+ min
    of one core where the running form takes seconds. Same semantics:
    over hours sorted descending, the running IGNORE-NULLS last IS the
    nearest observation at h' ≥ h (both frames include the current
    row). Nothing touches raw rows after the first aggregate; the
    scaffold is |types|·|hours|, partitioned by type.
    """
    HOUR_US = 3_600_000_000
    ev = load_table(spark, sf_dir, "events")
    obs = (
        ev.select("event_type", ts_micros().alias("us"), cents("value").alias("c"))
        .select("event_type", F.expr(f"us DIV {HOUR_US}").alias("h"), "c")
        .groupBy("event_type", "h")
        .agg(F.expr("sum(c) * 1000 DIV count(*)").alias("m"))
    )
    span = obs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    hours = span.select(F.explode(F.sequence("h0", "h1")).alias("h"))
    types = obs.select("event_type").distinct()
    scaffold = types.crossJoin(F.broadcast(hours))
    g = scaffold.join(obs, ["event_type", "h"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("h"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = g.select(
        "event_type",
        "h",
        "m",
        F.last("m", ignorenulls=True).over(wb).alias("pm"),
        F.last(F.when(F.col("m").isNotNull(), F.col("h")), ignorenulls=True)
        .over(wb)
        .alias("ph"),
        F.last("m", ignorenulls=True).over(wf).alias("nm"),
        F.last(F.when(F.col("m").isNotNull(), F.col("h")), ignorenulls=True)
        .over(wf)
        .alias("nh"),
    )
    interp = F.expr(
        """
        CASE WHEN nm >= pm
             THEN pm + (nm - pm) * (h - ph) DIV (nh - ph)
             ELSE pm - (pm - nm) * (h - ph) DIV (nh - ph) END
        """
    )
    return filled.select(
        "event_type",
        "h",
        F.when(F.col("m").isNotNull(), F.lit("obs"))
        .when(F.col("ph").isNull() | F.col("nh").isNull(), F.lit("edge"))
        .otherwise(F.lit("interp"))
        .alias("kind"),
        F.when(F.col("m").isNotNull(), F.col("m"))
        .when(F.col("ph").isNull() | F.col("nh").isNull(), F.lit(None))
        .otherwise(interp)
        .alias("value_milli"),
    )


TS_INTERP_SQL = """
WITH obs AS (
  SELECT event_type,
         epoch_us(ts) // 3600000000 AS h,
         SUM(CAST(round(value * 100) AS BIGINT)) * 1000 // COUNT(*) AS m
  FROM events GROUP BY 1, 2
),
span AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM obs),
hours AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM span),
scaffold AS (
  SELECT t.event_type, hours.h
  FROM (SELECT DISTINCT event_type FROM obs) t, hours
),
g AS (
  SELECT s.event_type, s.h, obs.m FROM scaffold s
  LEFT JOIN obs ON obs.event_type = s.event_type AND obs.h = s.h
),
filled AS (
  SELECT event_type, h, m,
         last_value(m IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pm,
         last_value(CASE WHEN m IS NOT NULL THEN h END IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
         first_value(m IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nm,
         first_value(CASE WHEN m IS NOT NULL THEN h END IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM g
)
SELECT event_type, h,
       CASE WHEN m IS NOT NULL THEN 'obs'
            WHEN ph IS NULL OR nh IS NULL THEN 'edge'
            ELSE 'interp' END AS kind,
       CAST(CASE WHEN m IS NOT NULL THEN m
            WHEN ph IS NULL OR nh IS NULL THEN NULL
            WHEN nm >= pm THEN pm + (nm - pm) * (h - ph) // (nh - ph)
            ELSE pm - (pm - nm) * (h - ph) // (nh - ph) END AS BIGINT)
         AS value_milli
FROM filled
"""


# ------------------------------------------- sequential pattern scan --

SEQ_GAP_US = 24 * 3_600 * 1_000_000  # max gap between consecutive steps


def seq_pattern_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequential pattern scan: per user, count
    occurrences of the CONSECUTIVE event sequence view -> click ->
    purchase where both adjacent gaps are <= 24 hours — the "qualified
    conversion path" matcher (funnel_conversion counts step reachers;
    this demands adjacency: no intervening event of any kind breaks
    the match, which is what MATCH_RECOGNIZE's strict contiguity
    means). Emits per-user match count plus the tightest observed
    total path time; users with no match keep a zero row.

    One window pass: two leads of (event_type, us) per row, then an
    aggregate — the standard way to run strict-contiguity patterns of
    fixed length k on a dataframe engine (k-1 leads), shuffling once
    by user. Variable-length patterns escalate to
    ``applyInPandasWithState`` (the sessionizer's machinery), not to
    bigger windows.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("user_id", ts_micros().alias("us"), "event_type", "event_id")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    lead1t = F.lead("event_type", 1).over(w)
    lead2t = F.lead("event_type", 2).over(w)
    lead1u = F.lead("us", 1).over(w)
    lead2u = F.lead("us", 2).over(w)
    hits = base.select(
        "user_id",
        "us",
        (
            (F.col("event_type") == "view")
            & (lead1t == "click")
            & (lead2t == "purchase")
            & ((lead1u - F.col("us")) <= SEQ_GAP_US)
            & ((lead2u - lead1u) <= SEQ_GAP_US)
        ).alias("hit"),
        (lead2u - F.col("us")).alias("span_us"),
    )
    return hits.groupBy("user_id").agg(
        # coalesce per row: `hit` is NULL (not false) on a user's
        # trailing rows (lead() runs off the partition), and a user
        # whose EVERY row is NULL-hit must aggregate to 0, not NULL —
        # the oracle's SUM(CASE WHEN hit THEN 1 ELSE 0 END) semantics
        F.sum(F.coalesce(F.col("hit").cast("long"), F.lit(0))).alias(
            "n_matches"
        ),
        F.min(F.when(F.col("hit"), F.col("span_us"))).alias("min_span_us"),
    )


SEQ_PATTERN_SQL = f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) AS us, event_type, event_id FROM events
),
leads AS (
  SELECT user_id, us,
         event_type = 'view'
         AND lead(event_type, 1) OVER w = 'click'
         AND lead(event_type, 2) OVER w = 'purchase'
         AND lead(us, 1) OVER w - us <= {SEQ_GAP_US}
         AND lead(us, 2) OVER w - lead(us, 1) OVER w <= {SEQ_GAP_US} AS hit,
         lead(us, 2) OVER w - us AS span_us
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT user_id,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
       MIN(CASE WHEN hit THEN span_us END) AS min_span_us
FROM leads GROUP BY 1
"""


# --------------------------------------------- association rules --

ASSOC_TOP_K = 50
ASSOC_MIN_AB = 3  # minimum co-occurrence support (baskets)


def assoc_rules_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the top co-purchased part pairs with
    exact integer support and lift — the frequent-itemset/association-
    rule primitive at its k=2 workhorse size (recommenders and
    planogram analytics rarely go past pairs at full scale). lift > 1e6
    ppm means the pair co-occurs more than independence predicts.

    Shape: baskets deduplicate to (order, part), pairs come from the
    orderkey self-join (fan-out C(basket,2) — bounded by basket size,
    never |parts|²), and the item-frequency table broadcasts back for
    the lift arithmetic. Counts stay integers through the verdict:
    support_ppm = n_ab·1e6 DIV N, lift_ppm = n_ab·N·1e6 DIV (n_a·n_b)
    (peak product ~1e13 at 100x — headroom designed). Top-K by
    support with (part_a, part_b) tiebreak = TakeOrderedAndProject,
    not a global sort.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # four consumers (basket count, item frequencies, both pair
        # sides): the scan + wide DISTINCT is identical in all four,
        # so materialize it once (round-13 rescan-audit rule). At
        # 100 TB: 4 fact scans → 1.
        .localCheckpoint(eager=False)
    )
    nb = li.agg(F.countDistinct("l_orderkey").alias("nbask"))
    item = li.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= ASSOC_MIN_AB)
    )
    ia = item.select(F.col("l_partkey").alias("pa"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("pb"), F.col("n_item").alias("n_b"))
    scored = (
        pairs.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "n_ab",
            F.expr("n_ab * 1000000 DIV nbask").alias("support_ppm"),
            F.expr(
                "n_ab * nbask * 1000000 DIV (n_a * n_b)"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.col("n_ab").desc(), "part_a", "part_b"
    ).limit(ASSOC_TOP_K)


ASSOC_RULES_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM li),
item AS (SELECT l_partkey, COUNT(*) AS n_item FROM li GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {ASSOC_MIN_AB}
)
SELECT pa AS part_a, pb AS part_b, n_ab,
       CAST(n_ab * 1000000 // nb.n AS BIGINT) AS support_ppm,
       CAST(n_ab * nb.n * 1000000 // (ia.n_item * ib.n_item) AS BIGINT)
         AS lift_ppm
FROM pairs, nb
JOIN item ia ON ia.l_partkey = pa
JOIN item ib ON ib.l_partkey = pb
ORDER BY n_ab DESC, part_a, part_b
LIMIT {ASSOC_TOP_K}
"""


# ---------------------------------------------- seasonal profile --


def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event_type: mean value in
    exact milli-cents per (type, hour-of-day) cell, each cell's lift
    vs the type's overall mean in ppm, and a peak-hour flag — the
    additive-decomposition first step every ops dashboard and
    forecasting featurizer runs.

    One scan -> 24x|types| cells (sum-cents + count, map-side
    combined); the per-type totals ride back via a broadcast join and
    everything downstream is integer: cell_mean_milli = sum·1000 DIV
    n, lift_ppm = cell_mean·1e6 DIV type_mean. Peak = max-by-struct
    over 24 rows. Time zone is fixed UTC session-wide (session.py),
    so hour() is deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.hour(ts_timestamp()).alias("hod"),
        cents("value").alias("c"),
    )
    cells = base.groupBy("event_type", "hod").agg(
        F.sum("c").alias("s"), F.count("*").alias("n")
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("s").alias("ts_"), F.sum("n").alias("tn")
    )
    j = cells.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "hod",
        "n",
        F.expr("s * 1000 DIV n").alias("mean_milli"),
        # an all-zero-valued type has type mean 0 — ANSI DIV 0 throws
        # in Spark while the oracle's // yields NULL
        F.expr(
            "CASE WHEN (ts_ * 1000 DIV tn) <> 0 THEN"
            " (s * 1000 DIV n) * 1000000 DIV (ts_ * 1000 DIV tn) END"
        ).alias("lift_ppm"),
    )
    w = Window.partitionBy("event_type")
    # peak contract (round-9 zero-variance sweep): a cell with no
    # measurable mean (every value missing) is NOT a peak hour, and it
    # does not compete for the max — the max runs over non-NULL cells
    # only, and the NULL-struct comparison coalesces to FALSE. Both
    # clauses mirrored in the oracle; identity when no mean is NULL.
    mx = F.max(
        F.when(
            F.col("mean_milli").isNotNull(), F.struct("mean_milli", "hod")
        )
    ).over(w)
    return j.select(
        "event_type",
        "hod",
        "n",
        "mean_milli",
        "lift_ppm",
        F.coalesce(
            F.struct("mean_milli", "hod") == mx, F.lit(False)
        ).alias("is_peak_hour"),
    )


TS_SEASONAL_SQL = """
WITH cells AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hod,
         SUM(CAST(round(value * 100) AS BIGINT)) AS s, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
totals AS (
  SELECT event_type, SUM(s) AS ts_, SUM(n) AS tn FROM cells GROUP BY 1
),
j AS (
  SELECT c.event_type, c.hod, c.n,
         CAST(c.s * 1000 // c.n AS BIGINT) AS mean_milli,
         CAST((c.s * 1000 // c.n) * 1000000
              // (t.ts_ * 1000 // t.tn) AS BIGINT) AS lift_ppm
  FROM cells c JOIN totals t USING (event_type)
)
SELECT event_type, CAST(hod AS BIGINT) AS hod, n, mean_milli, lift_ppm,
       -- no-measurement cells neither compete for nor hold the peak
       -- (round-9 zero-variance sweep; see the Spark-side comment)
       COALESCE((mean_milli, hod) = (MAX(CASE WHEN mean_milli IS NOT NULL
                  THEN (mean_milli, hod) END)
         OVER (PARTITION BY event_type)), FALSE) AS is_peak_hour
FROM j
"""


# ------------------------------------------------ weighted median --


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the
    "median dollar" (half the UNITS sold cost less than this), which
    divides differently from the row median whenever price and volume
    correlate. Exact: the (flag, price-cents) aggregated table carries
    summed integer weights, one cumulative window finds the least
    price whose doubled cumulative weight reaches the total, and the
    verdict is pure integer comparison (2·cumw >= totw — no halving,
    no FP).

    Same scale shape as ``feature_quantile_bins`` / ``ts_anomaly_mad``:
    the window runs over distinct values, not rows, and the heavy
    stage is a map-side-combined aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    vc = (
        li.select(
            "l_returnflag",
            cents("l_extendedprice").alias("c"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        .groupBy("l_returnflag", "c")
        .agg(F.sum("w").alias("w"))
    )
    wt = Window.partitionBy("l_returnflag")
    wc = wt.orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = vc.select(
        "l_returnflag",
        "c",
        "w",
        F.sum("w").over(wc).alias("cumw"),
        F.sum("w").over(wt).alias("totw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("c")))
        .alias("wmedian_cents"),
        F.min("totw").alias("total_weight"),
    ).select(
        "l_returnflag",
        (F.col("wmedian_cents").cast("double") / 100.0).alias("wmedian_price"),
        "total_weight",
    )


AGG_WMEDIAN_SQL = """
WITH vc AS (
  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, c, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY c) AS cumw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS totw
  FROM vc
)
SELECT l_returnflag,
       CAST(MIN(CASE WHEN 2 * cumw >= totw THEN c END) AS DOUBLE) / 100.0
         AS wmedian_price,
       CAST(MIN(totw) AS BIGINT) AS total_weight
FROM cum GROUP BY 1
"""


# ----------------------------------------------------- CUSUM drift --

# k sits just below the fixture's ~50-unit mean so upward-drifting
# types accumulate and alarm while in-control types hover at zero —
# the calibration a real deployment does against its baseline mean
CUSUM_K_MICRO = 50_000_000   # drift allowance per event (50 micro-units)
CUSUM_H_MICRO = 100_000_000  # alarm threshold (100 in micro-units)


def ts_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per event_type — the classic
    sequential change detector (Page 1954): s_t = max(0, s_{t-1} +
    x_t − k), alarm when s_t > h. The recursion LOOKS unexpressible
    in SQL, but the reset-at-zero form has a closed window identity:

        s_t = cum_t − min(cum_0..cum_t),  cum = running Σ(x − k)

    so two window passes over the ordered stream compute the exact
    CUSUM path — no UDF, no iteration, bit-reproducible in integer
    micro-units. Emits per type the alarm count, max excursion, and
    first alarm time.

    Scale: one shuffle on event_type with in-partition time sort (the
    inherent cost of an ordered scan statistic); everything else is
    map-side. The streaming twin would carry (cum, runmin) as two
    integers of state — noted, not built.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        ts_micros().alias("us"),
        "event_id",
        (F.round(F.col("value") * 1_000_000).cast("long") - CUSUM_K_MICRO)
        .alias("d"),
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    path = base.select(
        "event_type",
        "us",
        "event_id",
        F.sum("d").over(wc).alias("cum"),
    ).select(
        "event_type",
        "us",
        (F.col("cum") - F.least(F.min("cum").over(wc), F.lit(0))).alias("s"),
    )
    return path.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        # when/otherwise(0) mirrors the oracle's CASE..ELSE 0: a key
        # whose every measurement is missing has 0 alarms, not NULL
        # (round-9 zero-variance sweep)
        F.sum(
            F.when(F.col("s") > CUSUM_H_MICRO, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_alarms"),
        F.max("s").alias("max_excursion"),
        F.min(F.when(F.col("s") > CUSUM_H_MICRO, F.col("us"))).alias(
            "first_alarm_us"
        ),
    )


TS_CUSUM_SQL = f"""
WITH base AS (
  SELECT event_type, epoch_us(ts) AS us, event_id,
         CAST(round(value * 1000000) AS BIGINT) - {CUSUM_K_MICRO} AS d
  FROM events
),
cums AS (
  SELECT event_type, us, event_id,
         SUM(d) OVER (PARTITION BY event_type ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM base
),
path AS (
  SELECT event_type, us,
         cum - LEAST(MIN(cum) OVER (
           PARTITION BY event_type ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
  FROM cums
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN s > {CUSUM_H_MICRO} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms,
       CAST(MAX(s) AS BIGINT) AS max_excursion,
       MIN(CASE WHEN s > {CUSUM_H_MICRO} THEN us END) AS first_alarm_us
FROM path GROUP BY 1
"""


# ------------------------------------------- sequence analytics 3 --

SEQ_DAY_US = 86_400_000_000


def seq_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: for every ordered adjacent pair in a user's stream,
    count (from_type → to_type) and express the row-conditional
    probability in integer ppm — the session-flow summary behind
    next-event prediction and funnel design (the reference's key/value
    stream carries the same event-type tags, ``SURVEY.md §2.1 #2``).

    EXACT: transition counts are integers; p_ppm = n·1e6 DIV row
    total, so both engines agree bit-for-bit (log-free discipline, as
    ``text_tfidf_topk``).

    Scale: one shuffle on user_id with in-partition (ts, event_id)
    sort for the lead pass — the same single-shuffle shape as
    ``ts_cusum_alarm``; the (from, to) aggregate is |types|² rows and
    the row-total window runs on that tiny table, not the stream.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", ts_micros().alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = base.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    row_tot = F.sum("n_transitions").over(Window.partitionBy("from_type"))
    return counts.withColumn("row_total", row_tot).select(
        "from_type",
        "to_type",
        "n_transitions",
        "row_total",
        F.expr("(n_transitions * 1000000) DIV row_total").alias("p_ppm"),
    )


SEQ_TRANSITION_SQL = """
WITH base AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
),
pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS to_type
  FROM base
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n_transitions AS BIGINT) AS n_transitions,
       CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
         AS row_total,
       CAST((n_transitions * 1000000)
            // SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
         AS p_ppm
FROM counts
"""


AUTOCORR_MAX_LAG = 7


def ts_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the per-type daily event-count
    series at lags 1..7 — the seasonality detector feeding
    ``ts_seasonal_profile`` (a weekly cycle shows as a lag-7 peak).

    EXACT without a single float: Pearson r at lag L over integer
    daily counts has integer numerator num = n·Σxy − Σx·Σy and
    integer variance terms denx/deny; r² in ppm is
    (num² · 1e6) DIV (denx·deny) computed in DECIMAL(38,0) (Spark)
    / HUGEINT (DuckDB) — both exact integer arithmetic, verified to
    share `div` truncation semantics. The sign rides separately
    (r_sign), so r ≈ r_sign·sqrt(r2_ppm/1e6) is recoverable while
    the stored columns stay bit-portable.

    Scale: the day grain collapses the stream to |types|·|days| rows
    in one partial/final aggregate; the lag self-join and the moment
    sums run on that tiny series table. At 100 TB the only full-data
    pass is the first count — the classic pre-aggregate-then-analyze
    shape.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", ts_micros().alias("us"))
        .select("event_type", F.expr(f"us DIV {SEQ_DAY_US}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("x"))
    )
    lags = spark.range(1, AUTOCORR_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.day") == F.col("a.day") + F.col("lag")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            "lag",
            F.col("a.x").alias("x"),
            F.col("b.x").alias("y"),
        )
    )
    m = paired.groupBy("event_type", "lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    stats = m.select(
        "event_type",
        "lag",
        "n_pairs",
        (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("denx"),
        (F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")).alias("deny"),
    )
    return stats.select(
        "event_type",
        "lag",
        "n_pairs",
        F.signum("num").cast("long").alias("r_sign"),
        F.when(
            (F.col("denx") > 0) & (F.col("deny") > 0),
            F.expr(
                f"(CAST(num AS {_D18}) * CAST(num AS {_D18}) * 1000000)"
                f" div (CAST(denx AS {_D18}) * CAST(deny AS {_D18}))"
            ),
        ).alias("r2_ppm"),
    )


TS_AUTOCORR_SQL = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {SEQ_DAY_US} AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
lags AS (SELECT UNNEST(range(1, {AUTOCORR_MAX_LAG + 1})) AS lag),
paired AS (
  SELECT a.event_type, l.lag, a.x AS x, b.x AS y
  FROM daily a CROSS JOIN lags l
  JOIN daily b ON b.event_type = a.event_type AND b.day = a.day + l.lag
),
m AS (
  SELECT event_type, lag, COUNT(*) AS n_pairs,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM paired GROUP BY 1, 2
),
stats AS (
  SELECT event_type, lag, n_pairs,
         n_pairs * sxy - sx * sy AS num,
         n_pairs * sxx - sx * sx AS denx,
         n_pairs * syy - sy * sy AS deny
  FROM m
)
SELECT event_type, CAST(lag AS BIGINT) AS lag,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END AS BIGINT)
         AS r_sign,
       CASE WHEN denx > 0 AND deny > 0 THEN
         CAST((CAST(num AS HUGEINT) * CAST(num AS HUGEINT) * 1000000)
              // (CAST(denx AS HUGEINT) * CAST(deny AS HUGEINT)) AS BIGINT)
       END AS r2_ppm
FROM stats
"""


def agg_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event_type: the median of all
    pairwise slopes of the daily-count series — the outlier-immune
    complement to ``agg_regression_trend``'s OLS line (one corrupted
    day swings an OLS slope but not the pairwise-slope median).

    EXACT: each pair's slope becomes the signed integer
    sign·((|Δx|·1e6) DIV Δday) (sign split keeps the quotient
    non-negative — the house `DIV` discipline), and the median over
    the slope multiset is positional lo/hi picks on a count table
    (``_with_median_picks``), so 2·median stays an integer.

    Scale: O(days²) pairs per type — but on the DAY-grain aggregate,
    not events (90 days → ~4k pairs; a year → 66k). The only
    full-data pass is the daily count; the quadratic runs on a
    broadcast-sized series, the knowingly-bounded cost of the exact
    estimator (the 100 TB escape is lag-capped pairs, noted).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", ts_micros().alias("us"))
        .select("event_type", F.expr(f"us DIV {SEQ_DAY_US}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("x"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.day") > F.col("a.day")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            (
                F.signum(F.col("b.x") - F.col("a.x")).cast("long")
                * F.expr("(abs(b.x - a.x) * 1000000) DIV (b.day - a.day)")
            ).alias("s"),
        )
    )
    sc = slopes.groupBy("event_type", "s").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("event_type")
    wc = wt.orderBy("s").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = sc.select(
        "event_type", "s", "n",
        F.sum("n").over(wc).alias("cum"),
        F.sum("n").over(wt).alias("tot"),
    )
    picks = _with_median_picks(cum, "s")
    return picks.groupBy("event_type").agg(
        F.min("tot").alias("n_pairs"),
        (F.min("pk_lo") + F.min("pk_hi")).alias("slope_ppm_2x"),
    )


AGG_THEIL_SEN_SQL = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {SEQ_DAY_US} AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type,
         CAST(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END
              AS BIGINT)
           * ((abs(b.x - a.x) * 1000000) // (b.day - a.day)) AS s
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.day > a.day
),
sc AS (
  SELECT event_type, s, COUNT(*) AS n FROM slopes GROUP BY 1, 2
),
cum AS (
  SELECT event_type, s, n,
         SUM(n) OVER (PARTITION BY event_type ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS tot
  FROM sc
)
SELECT event_type, CAST(MIN(tot) AS BIGINT) AS n_pairs,
       CAST(MIN(CASE WHEN cum >= (tot + 1) // 2 THEN s END)
            + MIN(CASE WHEN cum >= (tot + 2) // 2 THEN s END) AS BIGINT)
         AS slope_ppm_2x
FROM cum GROUP BY 1
"""


PEAK_RADIUS_DAYS = 3


def ts_peak_prominence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection on the per-type daily count series: a day
    is a peak when its count strictly exceeds every day within ±3
    days — the burst-day report that pairs with ``ts_cusum_alarm``
    (CUSUM finds sustained drift; this finds isolated spikes). Emits
    each peak with its count, the neighborhood max it beat, and its
    margin (all integers; missing neighbor days count as 0, so
    range-edge days can be peaks).

    Scale: the stream collapses to the |types|·|days| day grain
    first; peak logic is two RANGE-frame windows over that tiny
    series — one shuffle total, on the day-grain table not events.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", ts_micros().alias("us"))
        .select("event_type", F.expr(f"us DIV {SEQ_DAY_US}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("x"))
    )
    wl = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-PEAK_RADIUS_DAYS, -1)
    )
    wr = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(1, PEAK_RADIUS_DAYS)
    )
    scored = daily.select(
        "event_type",
        "day",
        "x",
        F.greatest(
            F.coalesce(F.max("x").over(wl), F.lit(0)),
            F.coalesce(F.max("x").over(wr), F.lit(0)),
        ).alias("nbr_max"),
    )
    return scored.filter(F.col("x") > F.col("nbr_max")).select(
        "event_type", "day", "x", "nbr_max",
        (F.col("x") - F.col("nbr_max")).alias("margin"),
    )


TS_PEAK_SQL = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {SEQ_DAY_US} AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, day, x,
         GREATEST(
           COALESCE(MAX(x) OVER (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN {PEAK_RADIUS_DAYS} PRECEDING AND 1 PRECEDING), 0),
           COALESCE(MAX(x) OVER (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN 1 FOLLOWING AND {PEAK_RADIUS_DAYS} FOLLOWING), 0)
         ) AS nbr_max
  FROM daily
)
SELECT event_type, CAST(day AS BIGINT) AS day, CAST(x AS BIGINT) AS x,
       CAST(nbr_max AS BIGINT) AS nbr_max,
       CAST(x - nbr_max AS BIGINT) AS margin
FROM scored WHERE x > nbr_max
"""


def agg_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Gini impurity of the event-type mix — the log-free
    diversity index (1 − Σ pᵢ²): 0 when a day is one event type,
    → 1−1/k for a uniform k-way mix. The drift/diversity summary that
    pairs with ``dq_distribution_drift`` (that compares two windows;
    this tracks per-day mix concentration over time).

    EXACT: gini_ppm = ((tot² − Σnᵢ²)·1e6) DIV tot² — integers
    end-to-end (the reason to prefer Gini over Shannon entropy here:
    no logarithm, so both engines agree bit-for-bit).

    Scale: one partial/final count aggregate to the (day, type)
    grain, then a |days|-row re-aggregate. Nothing else.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(ts_micros().alias("us"), "event_type")
        .select(F.expr(f"us DIV {SEQ_DAY_US}").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("n"))
    )
    return (
        daily.groupBy("day")
        .agg(
            F.sum("n").alias("n_events"),
            F.count("*").alias("n_types"),
            F.sum(F.col("n") * F.col("n")).alias("sum_n2"),
        )
        .select(
            "day",
            "n_events",
            "n_types",
            F.expr(
                "((n_events * n_events - sum_n2) * 1000000)"
                " DIV (n_events * n_events)"
            ).alias("gini_ppm"),
        )
    )


AGG_GINI_SQL = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {SEQ_DAY_US} AS day, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT day, SUM(n) AS n_events, COUNT(*) AS n_types,
         SUM(n * n) AS sum_n2
  FROM daily GROUP BY 1
)
SELECT CAST(day AS BIGINT) AS day, CAST(n_events AS BIGINT) AS n_events,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(((n_events * n_events - sum_n2) * 1000000)
            // (n_events * n_events) AS BIGINT) AS gini_ppm
FROM agg
"""


SEQW_LEN = 8      # events per training window
SEQW_STRIDE = 4   # window start stride


def seq_training_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-model example builder: each user's event-type stream
    cut into fixed-length windows (8 events, stride 4) with the
    following event as the next-token label — the sessions→examples
    step of a behavioral-sequence training pipeline, kept at the
    day job of ``pack_token_budget`` (examples, not text).

    The window is emitted as a '>'-joined string, not an array — the
    round-1 lesson: the driver canonicalizer hashes array cells
    unreliably, joined strings compare exactly.

    Scale: one shuffle keyed user_id builds the per-user ordered
    sequence (``collect_list`` over a sorted struct — deterministic);
    window cutting is per-row array slicing, map-side. Long user
    histories bound state: a user's whole sequence must fit a row —
    the 100 TB guard is a session-split upstream (``agg_session_window``)
    before windowing, noted not needed at fixture scale.
    """
    ev = load_table(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id",
            F.struct(
                ts_micros().alias("us"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("t"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("s")).alias("seq"))
        .select(
            "user_id",
            F.transform("seq", lambda s: s["t"]).alias("types"),
        )
    )
    n = F.size("types")
    # guard: Spark sequence(1, 0) DESCENDS instead of being empty
    starts = F.when(
        n > SEQW_LEN,
        F.filter(
            F.sequence(F.lit(1), n - SEQW_LEN),
            lambda i: (i - 1) % SEQW_STRIDE == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    wins = seqs.select(
        "user_id",
        F.explode(starts).alias("pos"),
        "types",
    )
    return wins.select(
        "user_id",
        (F.col("pos") - 1).alias("win_start"),
        F.concat_ws(">", F.slice("types", F.col("pos"), SEQW_LEN)).alias("seq"),
        F.element_at("types", F.col("pos") + SEQW_LEN).alias("next_type"),
    )


SEQ_WINDOWS_SQL = f"""
WITH ordered AS (
  SELECT user_id,
         list(event_type ORDER BY epoch_us(ts), event_id) AS types
  FROM events GROUP BY 1
),
wins AS (
  SELECT user_id, unnest(range(1, GREATEST(len(types) - {SEQW_LEN}, 0) + 1,
                               {SEQW_STRIDE})) AS pos, types
  FROM ordered
)
SELECT user_id, CAST(pos - 1 AS BIGINT) AS win_start,
       array_to_string(list_slice(types, pos, pos + {SEQW_LEN} - 1), '>')
         AS seq,
       types[pos + {SEQW_LEN}] AS next_type
FROM wins
"""


def pipeline_anomaly_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition flagship for the monitoring tier: the three
    complementary detectors — MAD outliers (isolated bad values),
    CUSUM alarms (sustained drift), local peaks (burst days) — joined
    into one per-type health row, the page an on-call dashboard
    actually shows. Each detector is the already-oracled operator
    composed as a Catalyst subtree (one driver program, one DAG —
    the ``pipeline_pretrain_corpus`` pattern applied to observability).

    The three |types|-row summaries broadcast-join; total cost is the
    three detector scans (each one shuffle as documented on the
    component ops)."""
    mad = ts_anomaly_mad(spark, sf_dir).select(
        "event_type", "n_events", F.col("n_outliers").alias("mad_outliers")
    )
    cusum = ts_cusum_alarm(spark, sf_dir).select(
        "event_type",
        F.col("n_alarms").alias("cusum_alarms"),
        "first_alarm_us",
    )
    peaks = ts_peak_prominence(spark, sf_dir).groupBy("event_type").agg(
        F.count("*").alias("n_peak_days"),
        F.max("margin").alias("max_peak_margin"),
    )
    return (
        mad.join(cusum, "event_type", "left")
        .join(peaks, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            "mad_outliers",
            F.coalesce("cusum_alarms", F.lit(0)).alias("cusum_alarms"),
            "first_alarm_us",
            F.coalesce("n_peak_days", F.lit(0)).alias("n_peak_days"),
            F.coalesce("max_peak_margin", F.lit(0)).alias("max_peak_margin"),
        )
    )


def _anomaly_panel_sql() -> str:
    return f"""
WITH mad_t AS ({TS_ANOMALY_MAD_SQL.strip()}),
cusum_t AS ({TS_CUSUM_SQL.strip()}),
peaks_t AS ({TS_PEAK_SQL.strip()}),
peaks_agg AS (
  SELECT event_type, COUNT(*) AS n_peak_days, MAX(margin) AS max_peak_margin
  FROM peaks_t GROUP BY 1
)
SELECT m.event_type, m.n_events,
       m.n_outliers AS mad_outliers,
       COALESCE(c.n_alarms, 0) AS cusum_alarms,
       c.first_alarm_us,
       CAST(COALESCE(p.n_peak_days, 0) AS BIGINT) AS n_peak_days,
       CAST(COALESCE(p.max_peak_margin, 0) AS BIGINT) AS max_peak_margin
FROM mad_t m
LEFT JOIN cusum_t c ON c.event_type = m.event_type
LEFT JOIN peaks_agg p ON p.event_type = m.event_type
"""


PIPELINE_ANOMALY_SQL = _anomaly_panel_sql()


AB_VARIANTS = 2


def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically hash-split
    into 2 variants (the ``sample_split_hash`` assignment trick), per
    variant the exposed-user count (≥1 view), converted-user count
    (≥1 purchase), conversion rate in ppm, and mean purchase value in
    exact cents — the end-of-experiment table an analyst actually
    reads. Assignment-by-hash means any executor can re-derive any
    user's arm with no assignment table to join.

    Scale: one scan → per-(user, variant) boolean/cents partials
    (hash-agg on user_id), then a 2-row re-aggregate. No joins.
    """
    from ..functions.hashing import hash64

    ev = load_table(spark, sf_dir, "events")
    arm = F.pmod(
        hash64(F.concat(F.lit("ab#"), F.col("user_id").cast("string"))),
        F.lit(AB_VARIANTS),
    )
    per_user = (
        ev.select(
            "user_id",
            arm.alias("variant"),
            (F.col("event_type") == "view").cast("long").alias("is_view"),
            (F.col("event_type") == "purchase").cast("long").alias("is_buy"),
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0)).alias("buy_cents"),
        )
        .groupBy("user_id", "variant")
        .agg(
            F.max("is_view").alias("exposed"),
            F.max("is_buy").alias("converted"),
            F.sum("buy_cents").alias("cents"),
            F.sum("is_buy").alias("n_buys"),
        )
    )
    return (
        per_user.groupBy("variant")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("exposed").alias("n_exposed"),
            F.sum("converted").alias("n_converted"),
            F.sum("cents").alias("buy_cents"),
            F.sum("n_buys").alias("n_buys"),
        )
        .select(
            "variant",
            "n_users",
            "n_exposed",
            "n_converted",
            # zero-exposed guard: ANSI DIV 0 throws in Spark while the
            # oracle's // yields NULL — same contract as mean_buy_cents
            F.expr(
                "CASE WHEN n_exposed > 0"
                " THEN (n_converted * 1000000) DIV n_exposed END"
            ).alias("cvr_ppm"),
            F.expr(
                "CASE WHEN n_buys > 0 THEN buy_cents DIV n_buys END"
            ).alias("mean_buy_cents"),
        )
    )


def _ab_sql() -> str:
    from ..functions.hashing import hash64_sql

    h = hash64_sql("'ab#' || CAST(user_id AS VARCHAR)")
    return f"""
WITH per_user AS (
  SELECT user_id, (({h}) % {AB_VARIANTS} + {AB_VARIANTS}) % {AB_VARIANTS}
           AS variant,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS exposed,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
           AS cents,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_buys
  FROM events GROUP BY 1, 2
)
SELECT CAST(variant AS BIGINT) AS variant, COUNT(*) AS n_users,
       CAST(SUM(exposed) AS BIGINT) AS n_exposed,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       CAST((CAST(SUM(converted) AS BIGINT) * 1000000)
            // CAST(SUM(exposed) AS BIGINT) AS BIGINT) AS cvr_ppm,
       CAST(CASE WHEN SUM(n_buys) > 0
                 THEN CAST(SUM(cents) AS BIGINT)
                      // CAST(SUM(n_buys) AS BIGINT) END AS BIGINT)
         AS mean_buy_cents
FROM per_user GROUP BY 1
"""


AB_TEST_SQL = _ab_sql()


def ts_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands per user: consecutive-active-day streaks via
    the classic day − ROW_NUMBER() island key (a run of consecutive
    days shares one difference), then per-user streak profile —
    active days, streak count, longest streak and its start day. The
    engagement feature set behind retention models, at the day grain
    ``agg_session_window`` doesn't cover (sessions split on idle
    HOURS; streaks split on missing DAYS).

    All integers; ties on equal-length streaks resolve to the
    earliest start. One shuffle on user_id with in-partition day sort
    (the window), then two tiny aggregates.
    """
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.select("user_id", ts_micros().alias("us"))
        .select("user_id", F.expr(f"us DIV {SEQ_DAY_US}").alias("day"))
        .distinct()
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("day")
    )
    islands = days.withColumn("isl", F.col("day") - rn)
    streaks = islands.groupBy("user_id", "isl").agg(
        F.count("*").alias("len"),
        F.min("day").alias("start_day"),
    )
    return (
        streaks
        .withColumn(
            "best", F.max("len").over(Window.partitionBy("user_id"))
        )
        .groupBy("user_id")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.count("*").alias("n_streaks"),
            F.max("len").alias("max_streak"),
            F.min(
                F.when(F.col("len") == F.col("best"), F.col("start_day"))
            ).alias("max_streak_start"),
        )
    )


TS_STREAKS_SQL = f"""
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {SEQ_DAY_US} AS day FROM events
),
islands AS (
  SELECT user_id, day,
         day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS isl
  FROM days
),
streaks AS (
  SELECT user_id, isl, COUNT(*) AS len, MIN(day) AS start_day
  FROM islands GROUP BY 1, 2
),
best AS (
  SELECT user_id, isl, len, start_day,
         MAX(len) OVER (PARTITION BY user_id) AS b
  FROM streaks
)
SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
       COUNT(*) AS n_streaks, CAST(MAX(len) AS BIGINT) AS max_streak,
       CAST(MIN(CASE WHEN len = b THEN start_day END) AS BIGINT)
         AS max_streak_start
FROM best GROUP BY 1
"""


PATHS_TOPK = 10


def seq_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-traveled 3-step paths: every contiguous event-type triple
    in any user's stream, counted globally, top-10 with share in ppm
    — the open-vocabulary complement to ``seq_pattern_triples``
    (which matches ONE fixed pattern) and the 3-gram extension of
    ``seq_transition_matrix``. The product question it answers:
    "what do users actually do, in order?".

    Path strings are '>'-joined (the array-cell canonicalizer
    lesson); counts and shares integer; ties on the path string.

    Scale: one user_id shuffle for the double-lead window, then a
    wordcount-shaped global count whose top-k is
    TakeOrderedAndProject — no global sort materializes.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    base = ev.select(
        "user_id", ts_micros().alias("us"), "event_id", "event_type"
    )
    # a triple containing a NULL step is not a path: an untyped event
    # is indistinguishable from a missing one under lead(), and the
    # engines disagree on NULL concat (concat_ws skips, || propagates)
    # — both sides drop any-NULL triples (NULL-keys sweep, round 7)
    triples = base.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(
        F.col("t1").isNotNull()
        & F.col("t2").isNotNull()
        & F.col("t3").isNotNull()
    )
    counts = triples.select(
        F.concat_ws(">", "t1", "t2", "t3").alias("path")
    ).groupBy("path").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "path", "n", "total",
            F.expr("(n * 1000000) DIV total").alias("share_ppm"),
        )
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(PATHS_TOPK)
    )


SEQ_TOP_PATHS_SQL = f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events
),
triples AS (
  SELECT event_type AS t1,
         LEAD(event_type, 1) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
counts AS (
  SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
  FROM triples
  WHERE t1 IS NOT NULL AND t2 IS NOT NULL AND t3 IS NOT NULL
  GROUP BY 1
),
tot AS (SELECT SUM(n) AS total FROM counts)
SELECT path, CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total,
       CAST((n * 1000000) // total AS BIGINT) AS share_ppm
FROM counts CROSS JOIN tot
ORDER BY n DESC, path ASC
LIMIT {PATHS_TOPK}
"""


def ts_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast skill backtest per event_type: the seasonal-naive
    predictor (x̂_d = x_{d−7}) scored against the plain-naive
    (x̂_d = x_{d−1}) on the daily count series — MASE's integer
    core. A skill ratio under 1e6 ppm means the weekly cycle is real
    and a forecaster should use it; ≥ 1e6 means last-day carryover
    already beats it. The eval harness every forecasting feature
    pipeline needs BEFORE any model.

    EXACT: absolute count errors are integers; MAE is emitted ×1000
    via DIV; the skill ratio is snaive_mae·1e6 DIV naive_mae (NULL
    when the naive error is 0). Backtest days require BOTH lags to
    exist (equi-joins on day−1/day−7 — no lag() over a gappy grid).

    Scale: day-grain aggregate first; the two lag joins run on the
    |types|·|days| series table.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", ts_micros().alias("us"))
        .select("event_type", F.expr(f"us DIV {SEQ_DAY_US}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("x"))
        # three consumers (current day + both lag sides): the full
        # scan + day aggregate materializes once into a tiny
        # |types|·|days| table instead of executing three times
        # (round-13 rescan rule)
        .localCheckpoint(eager=False)
    )
    cur = daily.alias("c")
    l1 = daily.alias("l1")
    l7 = daily.alias("l7")
    joined = (
        cur.join(
            l1,
            (F.col("c.event_type") == F.col("l1.event_type"))
            & (F.col("l1.day") == F.col("c.day") - 1),
        )
        .join(
            l7,
            (F.col("c.event_type") == F.col("l7.event_type"))
            & (F.col("l7.day") == F.col("c.day") - 7),
        )
        .select(
            F.col("c.event_type").alias("event_type"),
            F.abs(F.col("c.x") - F.col("l7.x")).alias("e_s"),
            F.abs(F.col("c.x") - F.col("l1.x")).alias("e_n"),
        )
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n_backtest"),
            F.sum("e_s").alias("se_s"),
            F.sum("e_n").alias("se_n"),
        )
        .select(
            "event_type",
            "n_backtest",
            F.expr("(se_s * 1000) DIV n_backtest").alias("snaive_mae_e3"),
            F.expr("(se_n * 1000) DIV n_backtest").alias("naive_mae_e3"),
            F.expr(
                "CASE WHEN se_n > 0 THEN (se_s * 1000000) DIV se_n END"
            ).alias("skill_ppm"),
        )
    )


TS_SNAIVE_SQL = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {SEQ_DAY_US} AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
joined AS (
  SELECT c.event_type, abs(c.x - l7.x) AS e_s, abs(c.x - l1.x) AS e_n
  FROM daily c
  JOIN daily l1 ON l1.event_type = c.event_type AND l1.day = c.day - 1
  JOIN daily l7 ON l7.event_type = c.event_type AND l7.day = c.day - 7
)
SELECT event_type, COUNT(*) AS n_backtest,
       CAST((SUM(e_s) * 1000) // COUNT(*) AS BIGINT) AS snaive_mae_e3,
       CAST((SUM(e_n) * 1000) // COUNT(*) AS BIGINT) AS naive_mae_e3,
       CAST(CASE WHEN SUM(e_n) > 0
                 THEN (SUM(e_s) * 1000000) // SUM(e_n) END AS BIGINT)
         AS skill_ppm
FROM joined GROUP BY 1
"""


def ts_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting by day: active users, NEW users (first-ever
    appearance), returning = active − new, and the cumulative
    registered-user curve — the DAU/new/returning split every growth
    dashboard opens with, derived exactly from the event stream (no
    user dimension table needed: first-seen day IS min(day) per
    user).

    Scale: distinct (user, day) then min-day per user — two hash
    aggregates on user_id; the day-grain rollup and its cumulative
    window run on |days| rows. No joins against the raw stream.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select("user_id", ts_micros().alias("us"))
        .select("user_id", F.expr(f"us DIV {SEQ_DAY_US}").alias("day"))
        .distinct()
    )
    first = ud.groupBy("user_id").agg(F.min("day").alias("fday"))
    active = ud.groupBy("day").agg(F.count("*").alias("n_active"))
    new = first.groupBy(F.col("fday").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    joined = active.join(new, "day", "left").select(
        "day",
        "n_active",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        "day",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(w).alias("cum_users"),
    )


TS_CUMUSERS_SQL = f"""
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {SEQ_DAY_US} AS day FROM events
),
first AS (SELECT user_id, MIN(day) AS fday FROM ud GROUP BY 1),
active AS (SELECT day, COUNT(*) AS n_active FROM ud GROUP BY 1),
new AS (SELECT fday AS day, COUNT(*) AS n_new FROM first GROUP BY 1)
SELECT a.day AS day, CAST(a.n_active AS BIGINT) AS n_active,
       CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
       CAST(a.n_active - COALESCE(n.n_new, 0) AS BIGINT) AS n_returning,
       CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY a.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM active a LEFT JOIN new n ON n.day = a.day
"""


WINSOR_LO_PCT = 5
WINSOR_HI_PCT = 95


def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event_type: values clipped at the exact
    positional p5/p95 before averaging — the robust mean that keeps
    outliers' EXISTENCE (unlike a trimmed mean) but caps their
    leverage, the standard metric-hardening step before alerting on
    averages.

    EXACT: both cut points are positional picks on the per-type
    (value, count) table (p-th value at 1-indexed position
    ceil(n·p/100) — integer arithmetic, the ``ts_anomaly_mad``
    discipline); clipping and summing happen in integer micro-units;
    the mean is one final DIV (emitted ×1e6).

    Scale: two passes over the aggregated value-count table (pick,
    then clip+sum) — the raw stream is scanned once into that table.
    """
    ev = load_table(spark, sf_dir, "events")
    # NULL measurements are not census members (positional picks would
    # split on NULL ordering — round-8 NaN/Inf sweep, as ts_anomaly_mad)
    vc = (
        ev.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 1_000_000).cast("long").alias("m"),
        )
        .groupBy("event_type", "m")
        .agg(F.count("*").alias("n"))
    )
    wt = Window.partitionBy("event_type")
    wc = wt.orderBy("m").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = vc.select(
        "event_type", "m", "n",
        F.sum("n").over(wc).alias("cum"),
        F.sum("n").over(wt).alias("tot"),
    )
    picks = cum.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("cum") * 100 >= F.col("tot") * WINSOR_LO_PCT, F.col("m")
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("cum") * 100 >= F.col("tot") * WINSOR_HI_PCT, F.col("m")
            )
        ).alias("hi"),
        F.min("tot").alias("n_events"),
    )
    clipped = vc.join(F.broadcast(picks), "event_type").select(
        "event_type", "n", "n_events", "lo", "hi",
        F.greatest(F.least(F.col("m"), F.col("hi")), F.col("lo")).alias("w"),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.min("n_events").alias("n_events"),
            F.min("lo").alias("p5_micro"),
            F.min("hi").alias("p95_micro"),
            F.sum(F.col("w") * F.col("n")).alias("wsum"),
        )
        .select(
            "event_type", "n_events", "p5_micro", "p95_micro",
            F.expr(
                "CASE WHEN wsum >= 0 THEN wsum DIV n_events"
                " ELSE -((-wsum) DIV n_events) END"
            ).alias("winsor_mean_micro"),
        )
    )


AGG_WINSOR_SQL = f"""
WITH vc AS (
  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS m,
         COUNT(*) AS n
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT event_type, m, n,
         SUM(n) OVER (PARTITION BY event_type ORDER BY m
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS tot
  FROM vc
),
picks AS (
  SELECT event_type,
         MIN(CASE WHEN cum * 100 >= tot * {WINSOR_LO_PCT} THEN m END) AS lo,
         MIN(CASE WHEN cum * 100 >= tot * {WINSOR_HI_PCT} THEN m END) AS hi,
         MIN(tot) AS n_events
  FROM cum GROUP BY 1
),
clipped AS (
  SELECT vc.event_type, vc.n, p.n_events, p.lo, p.hi,
         GREATEST(LEAST(vc.m, p.hi), p.lo) AS w
  FROM vc JOIN picks p ON p.event_type = vc.event_type
)
SELECT event_type, CAST(MIN(n_events) AS BIGINT) AS n_events,
       CAST(MIN(lo) AS BIGINT) AS p5_micro,
       CAST(MIN(hi) AS BIGINT) AS p95_micro,
       CAST(CASE WHEN SUM(w * n) >= 0
                 THEN CAST(SUM(w * n) AS BIGINT) // CAST(MIN(n_events) AS BIGINT)
                 ELSE -((-CAST(SUM(w * n) AS BIGINT))
                        // CAST(MIN(n_events) AS BIGINT)) END AS BIGINT)
         AS winsor_mean_micro
FROM clipped GROUP BY 1
"""


def ts_atr_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range per event_type over the 5-minute OHLC bars
    — the classic volatility rollup ON TOP of ``ts_ohlc_bars``
    (composition, not recomputation): true range = max(high−low,
    |high−prev_close|, |low−prev_close|), first bar falls back to
    high−low, averaged per type. Gap-tolerant: "previous" is the
    prior EXISTING bar in sequence, deterministic under the (type,
    bar) ordering.

    EXACT: prices to integer cents before any arithmetic; ATR is
    ΣTR·1000 DIV bars. One lag window over the |types|·|bars| bar
    table — the stream was already collapsed by the OHLC aggregate.
    """
    bars = ts_ohlc_bars(spark, sf_dir).select(
        "event_type",
        "bar",
        F.round(F.col("high") * 100).cast("long").alias("h"),
        F.round(F.col("low") * 100).cast("long").alias("l"),
        F.round(F.col("close") * 100).cast("long").alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("bar")
    tr = bars.withColumn("pc", F.lag("c").over(w)).select(
        "event_type",
        "bar",
        F.when(
            F.col("pc").isNull(), F.col("h") - F.col("l")
        ).otherwise(
            F.greatest(
                F.col("h") - F.col("l"),
                F.abs(F.col("h") - F.col("pc")),
                F.abs(F.col("l") - F.col("pc")),
            )
        ).alias("tr"),
    )
    return tr.groupBy("event_type").agg(
        F.count("*").alias("n_bars"),
        F.max("tr").alias("max_tr_cents"),
        F.expr("(SUM(tr) * 1000) DIV COUNT(*)").alias("atr_cents_e3"),
    )


def _atr_sql() -> str:
    return f"""
WITH ohlc AS ({TS_OHLC_SQL.strip()}),
bars AS (
  SELECT event_type, bar,
         CAST(round(high * 100) AS BIGINT) AS h,
         CAST(round(low * 100) AS BIGINT) AS l,
         CAST(round(close * 100) AS BIGINT) AS c
  FROM ohlc
),
tr AS (
  SELECT event_type, bar,
         CASE WHEN pc IS NULL THEN h - l
              ELSE GREATEST(h - l, abs(h - pc), abs(l - pc)) END AS tr
  FROM (
    SELECT *, LAG(c) OVER (PARTITION BY event_type ORDER BY bar) AS pc
    FROM bars
  )
)
SELECT event_type, COUNT(*) AS n_bars,
       CAST(MAX(tr) AS BIGINT) AS max_tr_cents,
       CAST((SUM(tr) * 1000) // COUNT(*) AS BIGINT) AS atr_cents_e3
FROM tr GROUP BY 1
"""


TS_ATR_SQL = _atr_sql()


def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per converting user the gap from
    FIRST view to FIRST subsequent purchase, summarized as exact
    positional median and p90 over all converters plus the converter
    count — the latency histogram behind "how long does the funnel
    take?", where ``funnel_conversion`` only answers "how many make
    it?".

    EXACT: gaps are integer microseconds; quantiles are the
    ``_with_median_picks``-style positional picks ((tot+1) DIV 2 for
    the median-low, ceil(9n/10) for p90) on the gap count table. One
    user-keyed aggregate builds the per-user gap; the quantile pass
    runs on |converters| rows — DISTRIBUTED via ``global_cumsum``
    (range-partition + offset merge), because a converter-sized
    (gap, count) histogram through one WindowExec task is the same
    100 TB bottleneck as the vocab ranks (VERDICT r6 item 5).
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", ts_micros().alias("us")
    )
    firsts = base.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("v0")
    )
    buys = base.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("us").alias("pus")
    )
    gaps = (
        # |users|-sized firsts table (fact-derived): gated hint
        buys.join(bcast_gated(firsts, sf_dir, "events"), "user_id")
        .filter(F.col("v0").isNotNull() & (F.col("pus") >= F.col("v0")))
        .groupBy("user_id")
        .agg((F.min("pus") - F.min("v0")).alias("gap_us"))
    )
    # checkpoint: both the tot aggregate and global_cumsum consume
    # this table — without it the whole events scan + per-user gap
    # chain executes twice per run
    gc = (
        gaps.groupBy("gap_us")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = gc.agg(F.sum("n").alias("tot"))
    cum = global_cumsum(gc, [F.asc("gap_us")], "n", out="cum").crossJoin(
        F.broadcast(tot)
    )
    return cum.agg(
        F.min("tot").alias("n_converters"),
        F.min(
            F.when(F.col("cum") * 2 >= F.col("tot"), F.col("gap_us"))
        ).alias("median_gap_us"),
        F.min(
            F.when(F.col("cum") * 10 >= F.col("tot") * 9, F.col("gap_us"))
        ).alias("p90_gap_us"),
    )


FUNNEL_LATENCY_SQL = """
WITH base AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN us END) AS v0
  FROM base GROUP BY 1
),
gaps AS (
  SELECT b.user_id, MIN(b.us) - MIN(f.v0) AS gap_us
  FROM base b JOIN firsts f ON f.user_id = b.user_id
  WHERE b.event_type = 'purchase' AND f.v0 IS NOT NULL AND b.us >= f.v0
  GROUP BY 1
),
gc AS (SELECT gap_us, COUNT(*) AS n FROM gaps GROUP BY 1),
cum AS (
  SELECT gap_us, n,
         SUM(n) OVER (ORDER BY gap_us
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(n) OVER () AS tot
  FROM gc
)
SELECT CAST(MIN(tot) AS BIGINT) AS n_converters,
       CAST(MIN(CASE WHEN cum * 2 >= tot THEN gap_us END) AS BIGINT)
         AS median_gap_us,
       CAST(MIN(CASE WHEN cum * 10 >= tot * 9 THEN gap_us END) AS BIGINT)
         AS p90_gap_us
FROM cum
"""


def ts_peak_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-cause attribution for burst days: each detected local
    peak (``ts_peak_prominence``) joined to its top contributing user
    that day — who drove the spike, with their event count and share
    of the day's volume in ppm. The on-call question after every
    alert ("is this one runaway client?"), answered in the same DAG
    that found the alert.

    Shape: the peak table (tiny) broadcast against the (type, day,
    user) count aggregate; argmax via min-struct over (−n, user) —
    deterministic ties to the smaller user id.
    """
    peaks = ts_peak_prominence(spark, sf_dir).select(
        "event_type", "day", F.col("x").alias("day_total")
    )
    ev = load_table(spark, sf_dir, "events")
    udc = (
        ev.select("event_type", "user_id", ts_micros().alias("us"))
        .select(
            "event_type", "user_id",
            F.expr(f"us DIV {SEQ_DAY_US}").alias("day"),
        )
        .groupBy("event_type", "day", "user_id")
        .agg(F.count("*").alias("n"))
    )
    contrib = udc.join(F.broadcast(peaks), ["event_type", "day"])
    # tie-break key: the anonymous (NULL user_id) bucket must rank
    # LAST on ties, matching the oracle's ASC NULLS LAST — a bare NULL
    # inside a min-struct ranks FIRST in Spark (NULL-keys sweep, r7).
    # The sentinel only orders; the emitted top_user stays the real id.
    ord_uid = F.coalesce(F.col("user_id"), F.lit(1 << 62))
    top = contrib.groupBy("event_type", "day", "day_total").agg(
        F.min(
            F.struct(
                (-F.col("n")).alias("neg_n"),
                ord_uid.alias("ord_uid"),
                "user_id",
            )
        ).alias("t")
    )
    return top.select(
        "event_type",
        "day",
        "day_total",
        F.col("t.user_id").alias("top_user"),
        (-F.col("t.neg_n")).alias("top_user_events"),
        F.expr("((-t.neg_n) * 1000000) DIV day_total").alias("top_share_ppm"),
    )


def _peak_attr_sql() -> str:
    return f"""
WITH peaks AS ({TS_PEAK_SQL.strip()}),
udc AS (
  SELECT event_type, epoch_us(ts) // {SEQ_DAY_US} AS day, user_id,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2, 3
),
contrib AS (
  SELECT u.event_type, u.day, p.x AS day_total, u.user_id, u.n
  FROM udc u JOIN peaks p ON p.event_type = u.event_type AND p.day = u.day
),
ranked AS (
  SELECT event_type, day, day_total, user_id, n,
         ROW_NUMBER() OVER (PARTITION BY event_type, day
                            ORDER BY n DESC, user_id ASC) AS rk
  FROM contrib
)
SELECT event_type, day, CAST(day_total AS BIGINT) AS day_total,
       user_id AS top_user, CAST(n AS BIGINT) AS top_user_events,
       CAST((n * 1000000) // day_total AS BIGINT) AS top_share_ppm
FROM ranked WHERE rk = 1
"""


TS_PEAK_ATTR_SQL = _peak_attr_sql()


ROLL_WIN_DAYS = 7
ROLL_Z2 = 9  # alert when squared deviation > 9 x rolling variance (|z| > 3)


def ts_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window anomaly flags on the daily count series: a day
    alarms when its squared deviation from the PRIOR 7 days' mean
    exceeds 9× their variance — the |z| > 3 rule computed without a
    square root via the identity

        (x − S/n)² > 9·(nQ − S²)/n²  ⇔  (n·x − S)² > 9·(n·Q − S²)

    (S, Q = rolling sum and sum-of-squares, all int64 at day grain).
    The windowed complement of ``anomaly_zscore`` (global moments)
    and ``ts_cusum_alarm`` (cumulative drift): local context, sharp
    spikes. Emits flagged days with their window stats.

    Scale: day-grain aggregate first; two RANGE-frame window sums
    over the |types|·|days| series — one shuffle on event_type.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", ts_micros().alias("us"))
        .select("event_type", F.expr(f"us DIV {SEQ_DAY_US}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-ROLL_WIN_DAYS, -1)
    )
    stats = daily.select(
        "event_type",
        "day",
        "x",
        F.count("x").over(w).alias("n"),
        F.coalesce(F.sum("x").over(w), F.lit(0)).alias("s"),
        F.coalesce(F.sum(F.col("x") * F.col("x")).over(w), F.lit(0))
        .alias("q"),
    ).filter(F.col("n") >= 3)
    flagged = stats.select(
        "event_type",
        "day",
        "x",
        "n",
        "s",
        (
            (F.col("n") * F.col("x") - F.col("s"))
            * (F.col("n") * F.col("x") - F.col("s"))
        ).alias("dev2n2"),
        (F.col("n") * F.col("q") - F.col("s") * F.col("s")).alias("varn2"),
    )
    return flagged.filter(
        F.col("dev2n2") > ROLL_Z2 * F.col("varn2")
    ).select("event_type", "day", "x", "n", "s", "dev2n2", "varn2")


TS_ROLL_ANOM_SQL = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {SEQ_DAY_US} AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, day, x,
         COUNT(x) OVER w AS n,
         COALESCE(SUM(x) OVER w, 0) AS s,
         COALESCE(SUM(x * x) OVER w, 0) AS q
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               RANGE BETWEEN {ROLL_WIN_DAYS} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, CAST(day AS BIGINT) AS day, CAST(x AS BIGINT) AS x,
       CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
       CAST((n * x - s) * (n * x - s) AS BIGINT) AS dev2n2,
       CAST(n * q - s * s AS BIGINT) AS varn2
FROM stats
WHERE n >= 3 AND (n * x - s) * (n * x - s) > {ROLL_Z2} * (n * q - s * s)
"""


SESSION_GAP_US_360 = 30 * 60 * 1_000_000


def mart_user_360(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-360 mart row: per user the full engagement/value summary
    — events, sessions (30-min idle gap), purchases, lifetime value
    in exact cents, first/last activity, active days — the
    one-row-per-user table every downstream team joins instead of
    re-scanning the event log. The mart pattern itself is the point:
    one ordered pass builds every column.

    One shuffle on user_id: the session-start flags ride a lag
    window, everything else folds in the same per-user aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        ts_micros().alias("us"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = base.withColumn(
        "new_session",
        F.when(
            F.col("us") - F.lag("us").over(w) > SESSION_GAP_US_360, 1
        ).otherwise(
            F.when(F.lag("us").over(w).isNull(), 1).otherwise(0)
        ),
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("new_session").alias("n_sessions"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .alias("n_purchases"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("cents"))
            .otherwise(0)
        ).alias("ltv_cents"),
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
        F.count_distinct(F.expr("us DIV 86400000000")).alias("n_active_days"),
    )


MART_USER_360_SQL = f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
flagged AS (
  SELECT *,
         CASE WHEN LAG(us) OVER w IS NULL THEN 1
              WHEN us - LAG(us) OVER w > {SESSION_GAP_US_360} THEN 1
              ELSE 0 END AS new_session
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
            AS BIGINT) AS ltv_cents,
       MIN(us) AS first_us, MAX(us) AS last_us,
       COUNT(DISTINCT us // 86400000000) AS n_active_days
FROM flagged GROUP BY 1
"""


def ts_weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday behavior lift per event_type: mean daily
    count on weekend days vs weekdays and their ratio in ppm — the
    calendar-effect summary that decides whether models/alerts need
    dow features (epoch day 0 = Thursday 1970-01-01, so dow =
    (day + 4) % 7 with 0 = Sunday — the same convention both
    engines compute from the integer day).

    All-integer: per-type weekend/weekday event and day counts, means
    ×1000 via DIV, lift = weekend_mean·1e6 DIV weekday_mean.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", ts_micros().alias("us"))
        .select("event_type", F.expr(f"us DIV {SEQ_DAY_US}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("x"))
        .withColumn(
            "is_weekend",
            F.expr("CASE WHEN (day + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END"),
        )
    )
    agg = daily.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_weekend") == 1, F.col("x")).otherwise(0))
        .alias("we_events"),
        F.sum("is_weekend").alias("we_days"),
        F.sum(F.when(F.col("is_weekend") == 0, F.col("x")).otherwise(0))
        .alias("wd_events"),
        F.sum(1 - F.col("is_weekend")).alias("wd_days"),
    )
    return agg.select(
        "event_type",
        "we_events",
        "we_days",
        "wd_events",
        "wd_days",
        # zero-day guards: a span with no weekend (or no weekday) days
        # zeroes these denominators — ANSI DIV 0 throws in Spark while
        # the oracle's // yields NULL; the lift guard must test BOTH
        # factors of its denominator
        F.expr(
            "CASE WHEN we_days > 0 THEN (we_events * 1000) DIV we_days END"
        ).alias("we_mean_e3"),
        F.expr(
            "CASE WHEN wd_days > 0 THEN (wd_events * 1000) DIV wd_days END"
        ).alias("wd_mean_e3"),
        F.expr(
            "CASE WHEN wd_events > 0 AND we_days > 0 THEN"
            " (we_events * wd_days * 1000000) DIV (wd_events * we_days)"
            " END"
        ).alias("weekend_lift_ppm"),
    )


TS_WEEKEND_SQL = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {SEQ_DAY_US} AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
tagged AS (
  SELECT *, CASE WHEN (day + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS is_weekend
  FROM daily
),
agg AS (
  SELECT event_type,
         SUM(CASE WHEN is_weekend = 1 THEN x ELSE 0 END) AS we_events,
         SUM(is_weekend) AS we_days,
         SUM(CASE WHEN is_weekend = 0 THEN x ELSE 0 END) AS wd_events,
         SUM(1 - is_weekend) AS wd_days
  FROM tagged GROUP BY 1
)
SELECT event_type, CAST(we_events AS BIGINT) AS we_events,
       CAST(we_days AS BIGINT) AS we_days,
       CAST(wd_events AS BIGINT) AS wd_events,
       CAST(wd_days AS BIGINT) AS wd_days,
       CAST((we_events * 1000) // we_days AS BIGINT) AS we_mean_e3,
       CAST((wd_events * 1000) // wd_days AS BIGINT) AS wd_mean_e3,
       CAST(CASE WHEN wd_events > 0 THEN
         (we_events * wd_days * 1000000) // (wd_events * we_days)
       END AS BIGINT) AS weekend_lift_ppm
FROM agg
"""


WEEK_US = 7 * 86_400_000_000


def cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort × age LTV matrix: users grouped by first-seen week,
    each cohort's purchase revenue tracked by week-age since joining,
    with the running cumulative — the curve pair every growth model
    fits (does week-3 revenue of the March cohort match February's?).
    Extends ``cohort_retention`` (presence) with VALUE.

    Exact integer cents; weeks are epoch-microsecond DIV. Shape: the
    per-user first-seen aggregate joins back broadcast; the matrix is
    |cohorts|·|ages| rows and the cumulative is a window over it.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        ts_micros().alias("us"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).withColumn("week", F.expr(f"us DIV {WEEK_US}"))
    first = base.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    buys = base.filter(F.col("event_type") == "purchase")
    cells = (
        # |users|-sized cohort table (fact-derived): gated hint
        buys.join(bcast_gated(first, sf_dir, "events"), "user_id")
        .select(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("age_weeks"),
            "user_id",
            "cents",
        )
        .groupBy("cohort_week", "age_weeks")
        .agg(
            F.count_distinct("user_id").alias("n_buyers"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        "cohort_week",
        "age_weeks",
        "n_buyers",
        "revenue_cents",
        F.sum("revenue_cents").over(w).alias("cum_revenue_cents"),
    )


COHORT_LTV_SQL = f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) AS us, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) // {WEEK_US} AS week
  FROM events
),
first AS (SELECT user_id, MIN(week) AS cohort_week FROM base GROUP BY 1),
cells AS (
  SELECT f.cohort_week, b.week - f.cohort_week AS age_weeks,
         COUNT(DISTINCT b.user_id) AS n_buyers,
         SUM(b.cents) AS revenue_cents
  FROM base b JOIN first f ON f.user_id = b.user_id
  WHERE b.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
       CAST(age_weeks AS BIGINT) AS age_weeks,
       CAST(n_buyers AS BIGINT) AS n_buyers,
       CAST(revenue_cents AS BIGINT) AS revenue_cents,
       CAST(SUM(revenue_cents) OVER (PARTITION BY cohort_week
         ORDER BY age_weeks ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_revenue_cents
FROM cells
"""


def ts_changepoint_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection → quantification: for each event_type whose CUSUM
    fires, the before/after split at the FIRST alarm — event counts
    and exact integer-micro mean values on each side and the signed
    delta — turning "drift detected" into "drift of how much", in
    the same DAG that detected it (composition over
    ``ts_cusum_alarm``).

    The |types|-row alarm table broadcasts back onto one event scan;
    means are integer DIV (sign-split), so the impact row is as
    bit-decidable as the detector.
    """
    alarms = ts_cusum_alarm(spark, sf_dir).filter(
        F.col("first_alarm_us").isNotNull()
    ).select("event_type", "first_alarm_us")
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        ts_micros().alias("us"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("m"),
    )
    tagged = base.join(F.broadcast(alarms), "event_type").select(
        "event_type",
        "first_alarm_us",
        (F.col("us") >= F.col("first_alarm_us")).cast("long").alias("post"),
        "m",
    )
    agg = tagged.groupBy("event_type", "first_alarm_us").agg(
        F.sum(1 - F.col("post")).alias("n_pre"),
        F.sum("post").alias("n_post"),
        F.sum(F.when(F.col("post") == 0, F.col("m")).otherwise(0))
        .alias("s_pre"),
        F.sum(F.when(F.col("post") == 1, F.col("m")).otherwise(0))
        .alias("s_post"),
    )
    sdiv = (
        "CASE WHEN {s} >= 0 THEN {s} DIV {n}"
        " ELSE -((-{s}) DIV {n}) END"
    )
    return agg.filter(
        (F.col("n_pre") > 0) & (F.col("n_post") > 0)
    ).select(
        "event_type",
        "first_alarm_us",
        "n_pre",
        "n_post",
        F.expr(sdiv.format(s="s_pre", n="n_pre")).alias("pre_mean_micro"),
        F.expr(sdiv.format(s="s_post", n="n_post")).alias("post_mean_micro"),
        (
            F.expr(sdiv.format(s="s_post", n="n_post"))
            - F.expr(sdiv.format(s="s_pre", n="n_pre"))
        ).alias("delta_micro"),
    )


def _chgpt_sql() -> str:
    sdiv = (
        "CASE WHEN {s} >= 0 THEN CAST({s} AS BIGINT) // CAST({n} AS BIGINT)"
        " ELSE -((-CAST({s} AS BIGINT)) // CAST({n} AS BIGINT)) END"
    )
    pre = sdiv.format(s="SUM(CASE WHEN post = 0 THEN m ELSE 0 END)",
                      n="SUM(1 - post)")
    post = sdiv.format(s="SUM(CASE WHEN post = 1 THEN m ELSE 0 END)",
                       n="SUM(post)")
    return f"""
WITH alarms AS (
  SELECT event_type, first_alarm_us FROM ({TS_CUSUM_SQL.strip()})
  WHERE first_alarm_us IS NOT NULL
),
base AS (
  SELECT event_type, epoch_us(ts) AS us,
         CAST(round(value * 1000000) AS BIGINT) AS m
  FROM events
),
tagged AS (
  SELECT b.event_type, a.first_alarm_us,
         CASE WHEN b.us >= a.first_alarm_us THEN 1 ELSE 0 END AS post, b.m
  FROM base b JOIN alarms a ON a.event_type = b.event_type
)
SELECT event_type, first_alarm_us,
       CAST(SUM(1 - post) AS BIGINT) AS n_pre,
       CAST(SUM(post) AS BIGINT) AS n_post,
       CAST({pre} AS BIGINT) AS pre_mean_micro,
       CAST({post} AS BIGINT) AS post_mean_micro,
       CAST(({post}) - ({pre}) AS BIGINT) AS delta_micro
FROM tagged GROUP BY 1, 2
HAVING SUM(1 - post) > 0 AND SUM(post) > 0
"""


TS_CHGPT_SQL = _chgpt_sql()


def agg_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session bounce rate by day: sessions (30-min idle gap, the
    ``mart_user_360`` rule) that contain exactly ONE event, as a ppm
    share of the day's sessions — the engagement-quality headline
    stat, attributed to the day the session STARTED.

    One user-keyed window builds session ids (running sum of
    new-session flags); a session-grain aggregate sizes each; the
    day rollup is tiny. Integer ppm.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", ts_micros().alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = base.withColumn(
        "new_session",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > SESSION_GAP_US_360),
            1,
        ).otherwise(0),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("sid", F.sum("new_session").over(wc))
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.count("*").alias("n_events"),
        F.min("us").alias("start_us"),
    )
    days = per_sess.select(
        F.expr("start_us DIV 86400000000").alias("day"),
        (F.col("n_events") == 1).cast("long").alias("bounce"),
    )
    return (
        days.groupBy("day")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("bounce").alias("n_bounces"),
        )
        .select(
            "day", "n_sessions", "n_bounces",
            F.expr("(n_bounces * 1000000) DIV n_sessions")
            .alias("bounce_ppm"),
        )
    )


AGG_BOUNCE_SQL = f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
),
flagged AS (
  SELECT *,
         CASE WHEN LAG(us) OVER w IS NULL
                   OR us - LAG(us) OVER w > {SESSION_GAP_US_360}
              THEN 1 ELSE 0 END AS new_session
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sess AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
per_sess AS (
  SELECT user_id, sid, COUNT(*) AS n_events, MIN(us) AS start_us
  FROM sess GROUP BY 1, 2
),
days AS (
  SELECT start_us // 86400000000 AS day,
         CASE WHEN n_events = 1 THEN 1 ELSE 0 END AS bounce
  FROM per_sess
)
SELECT CAST(day AS BIGINT) AS day, COUNT(*) AS n_sessions,
       CAST(SUM(bounce) AS BIGINT) AS n_bounces,
       CAST((SUM(bounce) * 1000000) // COUNT(*) AS BIGINT) AS bounce_ppm
FROM days GROUP BY 1
"""


def ts_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor) of the daily count series per
    event_type: variance-to-mean ratio ×1000 — 1000 ≈ Poisson
    arrivals, greater ⇒ bursty/clumped, smaller ⇒ regular. The
    one-number prior for anomaly-threshold tuning (a bursty stream
    needs wider bands).

    EXACT: F·1e3 = ((nQ − S²)·1000) DIV (n·S) over integer daily
    counts (population variance convention, consistent with
    ``ts_rolling_anomaly``'s nQ−S² form).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", ts_micros().alias("us"))
        .select("event_type", F.expr(f"us DIV {SEQ_DAY_US}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("x"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("q"),
        )
        .select(
            "event_type",
            "n_days",
            "s",
            F.expr(
                "((n_days * q - s * s) * 1000) DIV (n_days * s)"
            ).alias("fano_e3"),
        )
    )


TS_FANO_SQL = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {SEQ_DAY_US} AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
)
SELECT event_type, COUNT(*) AS n_days, CAST(SUM(x) AS BIGINT) AS s,
       CAST(((COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) * 1000)
            // (COUNT(*) * SUM(x)) AS BIGINT) AS fano_e3
FROM daily GROUP BY 1
"""


def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant seasonality per event_type: the lag (1–7 days) with
    the strongest POSITIVE autocorrelation, picked from
    ``ts_autocorr_lag``'s exact integer ACF — the one-number "does
    this series have a weekly/daily cycle, and which?" answer that
    ``ts_backtest_snaive`` assumes and this op verifies (a dominant
    lag of 7 ⇒ the seasonal-naive predictor is the right baseline).

    Ties break on the smaller lag; types with NO positive-correlation
    lag report lag NULL — decidable either way.
    """
    # two consumers (positive-lag pick + the all-types scaffold) of an
    # expensive delegate (ts_autocorr_lag re-scans events per lag):
    # materialize its tiny |types|·7-row output once (round-13 rescan
    # rule)
    acf = ts_autocorr_lag(spark, sf_dir).localCheckpoint(eager=False)
    pos = acf.filter(
        (F.col("r_sign") > 0) & F.col("r2_ppm").isNotNull()
    )
    best = pos.groupBy("event_type").agg(
        F.max(
            F.struct(
                F.col("r2_ppm").alias("r2"), (-F.col("lag")).alias("neg_lag")
            )
        ).alias("b"),
        F.count("*").alias("n_pos_lags"),
    )
    all_types = acf.select("event_type").distinct()
    return (
        all_types.join(best, "event_type", "left")
        .select(
            "event_type",
            (-F.col("b.neg_lag")).alias("dominant_lag"),
            F.col("b.r2").alias("r2_ppm"),
            F.coalesce("n_pos_lags", F.lit(0)).alias("n_pos_lags"),
        )
    )


def _dominant_period_sql() -> str:
    return f"""
WITH acf AS ({TS_AUTOCORR_SQL.strip()}),
pos AS (
  SELECT * FROM acf WHERE r_sign > 0 AND r2_ppm IS NOT NULL
),
best AS (
  SELECT event_type, lag AS dominant_lag, r2_ppm
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY r2_ppm DESC, lag ASC) AS rk
    FROM pos
  ) t WHERE rk = 1
),
npos AS (
  SELECT event_type, COUNT(*) AS n_pos_lags FROM pos GROUP BY 1
)
SELECT a.event_type, b.dominant_lag, b.r2_ppm,
       CAST(COALESCE(n.n_pos_lags, 0) AS BIGINT) AS n_pos_lags
FROM (SELECT DISTINCT event_type FROM acf) a
LEFT JOIN best b ON b.event_type = a.event_type
LEFT JOIN npos n ON n.event_type = a.event_type
"""


TS_DOMINANT_SQL = _dominant_period_sql()


RETENTION_DAYS = (1, 3, 7)


def ts_dayn_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The D1/D3/D7 retention headline: of all users, how many were
    active again exactly N days after their FIRST day (N = 1, 3, 7),
    as counts and ppm — the day-grain bounded-lookup complement to
    the week-grain ``cohort_retention`` matrix.

    Shape: the (user, day) distinct grain and per-user first day are
    two hash aggregates; each N is one semi-join of (first+N) against
    the activity set — three broadcast probes, no window.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select("user_id", ts_micros().alias("us"))
        .select("user_id", F.expr(f"us DIV {SEQ_DAY_US}").alias("day"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    first = ud.groupBy("user_id").agg(F.min("day").alias("fday"))
    out = None
    for n in RETENTION_DAYS:
        probe = first.select(
            "user_id", (F.col("fday") + n).alias("day")
        )
        ret = probe.join(ud, ["user_id", "day"], "left_semi").agg(
            F.lit(n).alias("day_n"),
            F.count("*").alias("n_retained"),
        )
        out = ret if out is None else out.unionByName(ret)
    tot = first.agg(F.count("*").alias("n_users"))
    # n_users = 0 (empty/filtered-out corpus): DuckDB's // yields NULL
    # while Spark's ANSI DIV throws — guard to the oracle's NULL
    # (empty-corpus sweep, round 7)
    return out.crossJoin(F.broadcast(tot)).select(
        "day_n",
        "n_users",
        "n_retained",
        F.expr(
            "CASE WHEN n_users > 0"
            " THEN (n_retained * 1000000) DIV n_users END"
        ).alias("retained_ppm"),
    )


def _dayn_sql() -> str:
    branches = []
    for n in RETENTION_DAYS:
        branches.append(f"""
  SELECT {n} AS day_n, COUNT(*) AS n_retained
  FROM first f
  WHERE EXISTS (SELECT 1 FROM ud u
                WHERE u.user_id = f.user_id AND u.day = f.fday + {n})""")
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {SEQ_DAY_US} AS day FROM events
),
first AS (SELECT user_id, MIN(day) AS fday FROM ud GROUP BY 1),
ret AS ({union}),
tot AS (SELECT COUNT(*) AS n_users FROM first)
SELECT CAST(day_n AS INTEGER) AS day_n, CAST(n_users AS BIGINT) AS n_users,
       CAST(n_retained AS BIGINT) AS n_retained,
       CAST((n_retained * 1000000) // n_users AS BIGINT) AS retained_ppm
FROM ret CROSS JOIN tot
"""


TS_DAYN_SQL = _dayn_sql()
