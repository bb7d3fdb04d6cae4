"""ML featurization operators (round-5 additions).

The feature-engineering tier a training pipeline runs between curation
and packing: discretization, the hashing trick, leakage-safe target
encoding, and KMV set-similarity sketches. Same module discipline as
the rest of ``operators/``: JVM intrinsics only (no Python UDFs),
exact-integer arithmetic wherever the oracle hash-compares values
(``functions/exact.py`` + the portable md5 ``hash64``), broadcast the
small side, and a DuckDB oracle kept textually in sync per op.

Scale notes (100 TB discipline):
 - ``feature_quantile_bins`` computes exact equi-depth bins WITHOUT a
   row-level global sort: the cumulative window runs over the
   (group, value)-aggregated count table — |distinct values| rows, not
   |rows| — then the bin map broadcasts back. This is the scalable
   exact form of discretization (a per-group row-level ntile would
   funnel each group through one task).
 - ``feature_hash_vectorize`` is wordcount-shaped: explode → one
   partial/final aggregate on (slot); output is the fixed FH_DIM-row
   collision profile regardless of corpus size.
 - ``target_encode_oof`` aggregates the fact table once to a
   (category × fold) grid; the leave-one-fold-out arithmetic is a
   window over that tiny grid — standard two-phase decomposition.
 - ``approx_kmv_jaccard`` keeps a fixed k-minimum-values sketch per
   set; pairwise estimation touches only K-row sketches, never the
   raw sets — mergeable like the portable HLL/CMS, and hash-exact so
   the *approximate* answers still value-match the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import cents
from ..functions.hashing import hash64, hash64_sql
from ..sources.tables import bcast_gated, load_table, load_table_cpu, ts_micros

# ----------------------------------------------- equi-depth binning --

N_BINS = 10


def feature_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (quantile) discretization of l_extendedprice
    per l_returnflag — the feature-binning pass of a tabular-ML
    pipeline, in its scalable exact form.

    Ties stay together (every row with the same price lands in the
    same bin): a value's bin is ``floor(rows_before_value · NBINS /
    total)``, computed from the (flag, cents)-aggregated count table —
    the only window runs over distinct values, and the verdict is
    pure integer arithmetic both engines reproduce bit-for-bit.

    Scale honesty: the aggregation shrinks the window input only as
    much as values repeat — on a near-continuous column (prices here)
    |distinct| ≈ |rows| and each group's cumulative sum funnels
    through one task. That is the inherent cost of EXACT equi-depth
    bins; the 100 TB production form swaps the cut points for
    ``approx_percentile``'s mergeable KLL sketch (broadcast back,
    same join shape) and keeps this exact form for |distinct| ≪ |rows|
    columns and for auditing the sketch's boundaries at sample scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pc = (
        li.select("l_returnflag", cents("l_extendedprice").alias("c"))
        .groupBy("l_returnflag", "c")
        .agg(F.count("*").alias("n"))
    )
    # integer division end-to-end (no double quotient anywhere: Spark's
    # double→long cast truncates while DuckDB's rounds, so a FP bin id
    # would be a portability bug)
    binned = pc.select(
        "l_returnflag",
        "c",
        "n",
        F.expr(
            f"(sum(n) OVER (PARTITION BY l_returnflag ORDER BY c) - n) "
            f"* {N_BINS} DIV sum(n) OVER (PARTITION BY l_returnflag)"
        ).alias("bin"),
    )
    return binned.groupBy("l_returnflag", "bin").agg(
        F.sum("n").alias("n_rows"),
        (F.min("c").cast("double") / 100.0).alias("lo_price"),
        (F.max("c").cast("double") / 100.0).alias("hi_price"),
        F.sum(F.col("c") * F.col("n")).alias("sum_cents"),
    )


FEATURE_BINS_SQL = f"""
WITH pc AS (
  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1, 2
),
b AS (
  SELECT l_returnflag, c, n,
         CAST((SUM(n) OVER (PARTITION BY l_returnflag ORDER BY c) - n)
           * {N_BINS}
           // SUM(n) OVER (PARTITION BY l_returnflag) AS BIGINT) AS bin
  FROM pc
)
SELECT l_returnflag, bin, CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(MIN(c) AS DOUBLE) / 100.0 AS lo_price,
       CAST(MAX(c) AS DOUBLE) / 100.0 AS hi_price,
       CAST(SUM(c * n) AS BIGINT) AS sum_cents
FROM b GROUP BY 1, 2
"""


# ----------------------------------------------------- hashing trick --

FH_DIM = 64


def feature_hash_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick over the documents corpus: every token maps to
    slot ``hash64(word) mod FH_DIM`` — the fixed-dimension, vocabulary-
    free vectorizer used when the vocab can't be broadcast. Output is
    the corpus-level collision profile per slot: total token mass,
    distinct contributing documents, and distinct colliding words (the
    quantity that decides whether FH_DIM is large enough).

    Wordcount-shaped: one tokenize scan into one groupBy with two
    countDistincts. The dual distinct costs an Expand (the shuffle
    carries ~3× the exploded token stream) — A/B-measured against the
    split form (separate vocab-aggregate + (slot, doc) distinct joined
    at the end): the split halves the shuffled bytes but pays a second
    corpus scan and loses at both sf0.1 and 10× (1.1 s/5.3 s vs
    0.7 s/4.1 s). Scan cost dominates shuffle cost for this shape; at
    100 TB the same holds harder (the corpus read is the expensive
    part), so the single-scan Expand form is the keeper.
    """
    docs = load_table_cpu(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    slotted = toks.select(
        "doc_id", "word", F.pmod(hash64(F.col("word")), F.lit(FH_DIM)).alias("slot")
    )
    return slotted.groupBy("slot").agg(
        F.count("*").alias("total_cnt"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("word").alias("n_words"),
    )


FEATURE_HASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> ''
)
SELECT {hash64_sql('word')} % {FH_DIM} AS slot,
       COUNT(*) AS total_cnt,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(DISTINCT word) AS n_words
FROM toks GROUP BY 1
"""


# ------------------------------------------- out-of-fold target enc --

TE_FOLDS = 5


def target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe (out-of-fold) target encoding of o_orderpriority
    against the o_totalprice target: a row in fold f is encoded with
    the target mean of its category computed over the OTHER folds —
    the standard guard against target leakage when a categorical
    encoding feeds a model trained on the same table.

    Fold assignment hashes the key (``hash64(o_orderkey) mod 5`` —
    deterministic, reproducible, co-located with nothing). The fact
    table aggregates ONCE to the (category × fold) grid; the
    leave-one-out arithmetic is a window over that grid, exact in
    integer cents with one final double divide.
    """
    od = load_table(spark, sf_dir, "orders")
    g = (
        od.select(
            "o_orderpriority",
            F.pmod(
                hash64(F.col("o_orderkey").cast("string")), F.lit(TE_FOLDS)
            ).alias("fold"),
            cents("o_totalprice").alias("tc"),
        )
        .groupBy("o_orderpriority", "fold")
        .agg(F.count("*").alias("n"), F.sum("tc").alias("sum_c"))
    )
    cat = Window.partitionBy("o_orderpriority")
    oof_n = F.sum("n").over(cat) - F.col("n")
    oof_sum = F.sum("sum_c").over(cat) - F.col("sum_c")
    return g.select(
        "o_orderpriority",
        "fold",
        F.col("n").alias("n_rows"),
        F.when(
            oof_n > 0, (oof_sum.cast("double") / 100.0) / oof_n.cast("double")
        ).alias("oof_mean_price"),
    )


TARGET_ENCODE_SQL = f"""
WITH g AS (
  SELECT o_orderpriority,
         {hash64_sql('CAST(o_orderkey AS VARCHAR)')} % {TE_FOLDS} AS fold,
         COUNT(*) AS n,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS sum_c
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, fold, n AS n_rows,
       CASE WHEN SUM(n) OVER (PARTITION BY o_orderpriority) - n > 0 THEN
         (CAST(SUM(sum_c) OVER (PARTITION BY o_orderpriority) - sum_c AS DOUBLE)
          / 100.0)
         / CAST(SUM(n) OVER (PARTITION BY o_orderpriority) - n AS DOUBLE)
       END AS oof_mean_price
FROM g
"""


# ------------------------------------------------- KMV set sketches --

KMV_K = 64

#: Pairwise sketch ops (KMV Jaccard, HLL intersect) compare EVERY set
#: pair — T sets → T·(T−1)/2 pairs, a quadratic trap when the set
#: dimension is high-cardinality (round-10 every-row-its-own-key
#: sweep: 1000 types → 499,500 pairs, 60 s at sf0.001). An
#: audience-overlap analysis over a high-card dimension always bounds
#: its universe, so both ops restrict to the TOP-N largest sets (by
#: distinct elements, ties by name — deterministic in both engines).
#: Identity on every fixture with <= N sets; at 100 TB the pair
#: surface is then N²·sketch-size work regardless of |types|.
SKETCH_PAIR_TOP_N = 100


def approx_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values sketch Jaccard between the user sets of every
    event-type pair — the fixed-size, mergeable way to estimate
    pairwise audience overlap when the sets are 100 TB-sized.

    Per set, keep the KMV_K smallest ``hash64(user_id)`` values; for a
    pair, the estimate is |shared values among the K smallest of the
    sketch union| / K. Like the portable HLL/CMS, every step is
    integer arithmetic on the shared md5 hash, so the *approximate*
    estimate hash-matches the oracle exactly; the exact Jaccard rides
    along (cheap here, impossible at scale — the sketch is the point)
    so the estimation error is itself a checkable fact.
    """
    ev = load_table(spark, sf_dir, "events")
    uh = (
        ev.select(
            F.col("event_type").alias("t"),
            hash64(F.col("user_id").cast("string")).alias("h"),
        )
        .distinct()
        # three consumers (per-type sketch, top-N size ranking, exact
        # audit): the events scan + md5 hashing + wide DISTINCT is
        # identical and expensive in all three, so materialize it once
        # (round-13 rescan-audit rule; was 3 full scan+distinct chains).
        # SCALE NOTE (VERDICT r13 item 5): this grain is (event_type,
        # user-hash) DISTINCT — bounded by |types| x |users|, i.e.
        # user-dimension-sized, not event-fact-sized (at 100 TB of
        # events with ~1e9 users x 16 B this is ~10s of GB across the
        # cluster, executor-local MEMORY_AND_DISK = spill-safe; the
        # truncated lineage means an executor loss retries the query
        # instead of recomputing one partition).
        .localCheckpoint(eager=False)
    )
    wk = Window.partitionBy("t").orderBy("h")
    sk = uh.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= KMV_K
    ).select("t", "h")
    # top-N largest sets only (SKETCH_PAIR_TOP_N): the global window
    # runs over the bounded per-type size table, not row-grain data
    wtop = Window.orderBy(F.col("sz").desc(), F.col("t"))
    types = (
        uh.groupBy("t")
        .agg(F.count("*").alias("sz"))
        .withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= SKETCH_PAIR_TOP_N)
        .select("t")
    )
    pairs = (
        types.alias("a")
        .join(types.alias("b"), F.col("a.t") < F.col("b.t"))
        .select(F.col("a.t").alias("ta"), F.col("b.t").alias("tb"))
    )
    # membership of each sketch value in each pair's two sketches
    m = (
        sk.join(
            F.broadcast(pairs),
            (F.col("t") == F.col("ta")) | (F.col("t") == F.col("tb")),
        )
        .groupBy("ta", "tb", "h")
        .agg(
            F.max((F.col("t") == F.col("ta")).cast("int")).alias("in_a"),
            F.max((F.col("t") == F.col("tb")).cast("int")).alias("in_b"),
        )
    )
    wu = Window.partitionBy("ta", "tb").orderBy("h")
    union_k = m.withColumn("rn", F.row_number().over(wu)).filter(
        F.col("rn") <= KMV_K
    )
    est = union_k.groupBy("ta", "tb").agg(
        F.count("*").alias("k_used"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_shared"),
    )
    # exact Jaccard audit (feasible at fixture scale only)
    ex = (
        uh.join(F.broadcast(pairs), (F.col("t") == F.col("ta")) | (F.col("t") == F.col("tb")))
        .groupBy("ta", "tb", "h")
        .agg(
            F.max((F.col("t") == F.col("ta")).cast("int")).alias("in_a"),
            F.max((F.col("t") == F.col("tb")).cast("int")).alias("in_b"),
        )
        .groupBy("ta", "tb")
        .agg(
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter"),
            F.count("*").alias("n_union"),
        )
    )
    return est.join(ex, ["ta", "tb"]).select(
        "ta",
        "tb",
        "k_used",
        "n_shared",
        (F.col("n_shared").cast("double") / F.col("k_used").cast("double")).alias(
            "jaccard_est"
        ),
        "n_inter",
        "n_union",
        (F.col("n_inter").cast("double") / F.col("n_union").cast("double")).alias(
            "jaccard_exact"
        ),
    )


KMV_JACCARD_SQL = f"""
WITH uh AS (
  SELECT DISTINCT event_type AS t,
         {hash64_sql('CAST(user_id AS VARCHAR)')} AS h
  FROM events
),
sk AS (
  SELECT t, h FROM (
    SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn FROM uh
  ) WHERE rn <= {KMV_K}
),
types AS (
  SELECT t FROM (
    SELECT t, row_number() OVER (ORDER BY COUNT(*) DESC, t) AS rk
    FROM uh GROUP BY t
  ) WHERE rk <= {SKETCH_PAIR_TOP_N}
),
pairs AS (
  SELECT a.t AS ta, b.t AS tb FROM types a JOIN types b ON a.t < b.t
),
m AS (
  SELECT p.ta, p.tb, s.h,
         MAX(CASE WHEN s.t = p.ta THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.t = p.tb THEN 1 ELSE 0 END) AS in_b
  FROM sk s JOIN pairs p ON s.t = p.ta OR s.t = p.tb
  GROUP BY 1, 2, 3
),
uk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn FROM m
  ) WHERE rn <= {KMV_K}
),
est AS (
  SELECT ta, tb, COUNT(*) AS k_used,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_shared
  FROM uk GROUP BY 1, 2
),
ex AS (
  SELECT ta, tb, CAST(SUM(in_a * in_b) AS BIGINT) AS n_inter,
         COUNT(*) AS n_union
  FROM (
    SELECT p.ta, p.tb, u.h,
           MAX(CASE WHEN u.t = p.ta THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN u.t = p.tb THEN 1 ELSE 0 END) AS in_b
    FROM uh u JOIN pairs p ON u.t = p.ta OR u.t = p.tb
    GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)
SELECT est.ta, est.tb, k_used, n_shared,
       CAST(n_shared AS DOUBLE) / CAST(k_used AS DOUBLE) AS jaccard_est,
       n_inter, n_union,
       CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard_exact
FROM est JOIN ex ON est.ta = ex.ta AND est.tb = ex.tb
"""


# ----------------------------------------------- forward as-of join --


def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join — the mirror of ``join_asof_latest_order``
    (relational.py): for each order, the customer's EARLIEST event at
    or after the order date (e.g. "first site activity after an order
    ships" for delivery-experience analysis). NULL row when the
    customer never returns.

    Same scale shape as the backward form: range join fan-out bounded
    by per-user activity, min-by-struct collapses it with map-side
    combine; (ev_us, event_id) tiebreak is deterministic. Left join
    keeps never-returning orders visible (an inner join would silently
    drop them — the difference IS the metric).
    """
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("timestamp").alias("od_ts")
    )
    ev_raw = load_table(spark, sf_dir, "events")
    ev = ev_raw.select(
        "user_id",
        ts_micros().alias("ev_us"),
        "event_id",
        "event_type",
    )
    od_us = F.unix_timestamp("od_ts") * F.lit(1_000_000)
    joined = od.withColumn("od_us", od_us).join(
        ev,
        (F.col("o_custkey") == F.col("user_id")) & (F.col("ev_us") >= F.col("od_us")),
        "left",
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(F.min(F.struct("ev_us", "event_id", "event_type")).alias("first"))
        .select(
            "o_orderkey",
            F.col("first.event_id").alias("next_event_id"),
            F.col("first.ev_us").alias("next_event_us"),
            F.col("first.event_type").alias("next_event_type"),
        )
    )


JOIN_ASOF_FWD_SQL = """
WITH ranked AS (
  SELECT o.o_orderkey, e.event_id, epoch_us(e.ts) AS ev_us, e.event_type,
         row_number() OVER (PARTITION BY o.o_orderkey
                            ORDER BY epoch_us(e.ts), e.event_id) AS rn
  FROM orders o LEFT JOIN events e
    ON o.o_custkey = e.user_id
   AND epoch_us(e.ts) >= epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
)
SELECT o_orderkey, event_id AS next_event_id, ev_us AS next_event_us,
       event_type AS next_event_type
FROM ranked WHERE rn = 1
"""


# ------------------------------------------------- freshness SLA DQ --

FRESH_SLA_US = 3_600 * 1_000_000  # 1-hour freshness budget


def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA audit: per event_type, how far its latest
    event lags the pipeline's global high-water mark, and whether that
    lag is inside the 1-hour budget — the staleness monitor every
    ingestion DAG publishes.

    Two tiny aggregates (per-type max, global max) with the global
    row broadcast back via cross join — the fact table is scanned
    once; everything the verdict needs is integer microseconds.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = (
        ev.select("event_type", ts_micros().alias("us"))
        .groupBy("event_type")
        .agg(F.max("us").alias("latest_us"), F.count("*").alias("n_events"))
    )
    hwm = per_type.agg(F.max("latest_us").alias("hwm_us"))
    return per_type.crossJoin(F.broadcast(hwm)).select(
        "event_type",
        "n_events",
        "latest_us",
        (F.col("hwm_us") - F.col("latest_us")).alias("lag_us"),
        ((F.col("hwm_us") - F.col("latest_us")) <= FRESH_SLA_US).alias("within_sla"),
    )


DQ_FRESHNESS_SQL = f"""
WITH per_type AS (
  SELECT event_type, MAX(epoch_us(ts)) AS latest_us, COUNT(*) AS n_events
  FROM events GROUP BY 1
),
hwm AS (SELECT MAX(latest_us) AS hwm_us FROM per_type)
SELECT event_type, n_events, latest_us,
       hwm_us - latest_us AS lag_us,
       hwm_us - latest_us <= {FRESH_SLA_US} AS within_sla
FROM per_type CROSS JOIN hwm
"""


# ------------------------------------- HLL intersection (incl-excl) --


def approx_distinct_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation via HLL inclusion-exclusion:
    |A∩B| ≈ est(A) + est(B) − est(A∪B), where est(A∪B) comes from
    MERGING the two per-set sketches (bucket-wise max) — no rescan of
    the union, which is the whole point at 100 TB: sketches are built
    once per set, every pairwise overlap is then sketch-size work.
    Completes the portable sketch family (HLL count + merge, CMS, KMV)
    with its intersection estimator; the exact intersection rides
    along as the error audit (feasible only at fixture scale).

    The set element is the USER-DAY (user_id:day), not the bare user:
    the fixture has only 150 users — deep inside HLL's small-range
    regime where the raw estimator (deliberately correction-free, see
    ``hll_estimate``: a linear-counting branch needs ln(), whose last
    ulp differs between libm implementations and would break the
    hash-match) is badly biased. User-day cardinality (~4k/set) sits
    in the raw sweet spot, and "co-active user-days" is the overlap a
    capacity/engagement analysis wants anyway.

    Every sketch step is the shared integer HLL of
    ``functions/hashing.py`` — bit-identical in DuckDB — and the three
    estimates subtract in a fixed expression order, so the
    *approximate* overlap hash-matches the oracle exactly.
    """
    from ..functions.hashing import HLL_ALPHA, HLL_M, HLL_REST_BITS
    ev = load_table(spark, sf_dir, "events")
    ev = ev.select("event_type", "user_id", ts_micros().alias("us"))
    # integer DIV, not double-divide-then-cast (truncates in Spark but
    # rounds in DuckDB — the feature_quantile_bins lesson); matches the
    # sibling day-bucket ops (dq_distribution_drift, privacy_kanon_cells)
    day = F.expr("us DIV 86400000000")
    elem = F.concat(
        F.col("user_id").cast("string"), F.lit(":"), day.cast("string")
    )
    # ONE distinct element table feeds both the sketch build and the
    # top-N ranking (round-13 rescan-audit rule): max-rho over the
    # DISTINCT elements equals max-rho over the raw stream (bucket and
    # rho are functions of the element; duplicates cannot change a
    # max), so the events scan + md5 + wide DISTINCT happen once.
    uh = (
        ev.select(F.col("event_type").alias("t"), elem.alias("u"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    h = hash64(F.col("u"))
    bucket = F.pmod(h, F.lit(HLL_M))
    rest = (h - bucket) / F.lit(HLL_M)
    rho = F.lit(HLL_REST_BITS + 1) - F.length(F.bin(rest.cast("long")))
    sk = (
        uh.select("t", bucket.alias("bkt"), rho.alias("rho"))
        .groupBy("t", "bkt")
        .agg(F.max("rho").alias("max_rho"))
    )
    wtop = Window.orderBy(F.col("sz").desc(), F.col("t"))
    types = (
        uh.groupBy("t")
        .agg(F.count("*").alias("sz"))
        .withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= SKETCH_PAIR_TOP_N)
        .select("t")
    )
    pairs = (
        types.alias("a")
        .join(types.alias("b"), F.col("a.t") < F.col("b.t"))
        .select(F.col("a.t").alias("ta"), F.col("b.t").alias("tb"))
    )
    m = sk.join(
        F.broadcast(pairs), (F.col("t") == F.col("ta")) | (F.col("t") == F.col("tb"))
    )
    weight_of = lambda c: F.pow(  # noqa: E731
        F.lit(2.0), F.lit(HLL_REST_BITS + 1) - c
    ).cast("long")
    grid = m.groupBy("ta", "tb", "bkt").agg(
        F.max(F.when(F.col("t") == F.col("ta"), F.col("max_rho"))).alias("ra"),
        F.max(F.when(F.col("t") == F.col("tb"), F.col("max_rho"))).alias("rb"),
        F.max("max_rho").alias("ru"),
    )
    # empty buckets contribute weight 2^(REST+1) (rho-less bucket);
    # per-set sketches may miss buckets the pair grid has, so coalesce
    # a missing side to rho 0 → full weight, same as the oracle
    zero_w = 1 << (HLL_REST_BITS + 1)
    agg = grid.groupBy("ta", "tb").agg(
        (
            F.sum(F.coalesce(weight_of(F.col("ra")), F.lit(zero_w)))
            + F.lit(zero_w) * (F.lit(HLL_M) - F.count("*"))
        ).alias("wa"),
        (
            F.sum(F.coalesce(weight_of(F.col("rb")), F.lit(zero_w)))
            + F.lit(zero_w) * (F.lit(HLL_M) - F.count("*"))
        ).alias("wb"),
        (
            F.sum(weight_of(F.col("ru")))
            + F.lit(zero_w) * (F.lit(HLL_M) - F.count("*"))
        ).alias("wu"),
    )
    scale = HLL_ALPHA * HLL_M * HLL_M * float(1 << (HLL_REST_BITS + 1))
    est = lambda w: F.lit(scale) / F.col(w).cast("double")  # noqa: E731
    ex = (
        uh.join(F.broadcast(pairs), (F.col("t") == F.col("ta")) | (F.col("t") == F.col("tb")))
        .groupBy("ta", "tb", "u")
        .agg(
            F.max((F.col("t") == F.col("ta")).cast("int")).alias("ia"),
            F.max((F.col("t") == F.col("tb")).cast("int")).alias("ib"),
        )
        .groupBy("ta", "tb")
        .agg(F.sum(F.col("ia") * F.col("ib")).cast("long").alias("n_inter_exact"))
    )
    return (
        agg.join(ex, ["ta", "tb"])
        .select(
            "ta",
            "tb",
            est("wa").alias("est_a"),
            est("wb").alias("est_b"),
            est("wu").alias("est_union"),
            (est("wa") + est("wb") - est("wu")).alias("est_inter"),
            "n_inter_exact",
        )
    )


def _hll_intersect_sql() -> str:
    from ..functions.hashing import (
        HLL_ALPHA,
        HLL_M,
        HLL_REST_BITS,
        hash64_sql,
    )

    h = hash64_sql("elem")
    r1 = HLL_REST_BITS + 1
    zw = 1 << r1
    scale = HLL_ALPHA * HLL_M * HLL_M * float(zw)
    return f"""
WITH elems AS (
  SELECT event_type,
         CAST(user_id AS VARCHAR) || ':' ||
           CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS elem
  FROM events
),
hashed AS (
  SELECT event_type AS t, {h} AS h FROM elems
),
sk AS (
  SELECT t, h % {HLL_M} AS bkt,
         MAX({r1} - length(bin(CAST((h - h % {HLL_M}) / {HLL_M} AS BIGINT)))) AS max_rho
  FROM hashed GROUP BY 1, 2
),
types AS (
  SELECT t FROM (
    SELECT t, row_number() OVER (ORDER BY COUNT(*) DESC, t) AS rk
    FROM (SELECT DISTINCT event_type AS t, elem FROM elems) GROUP BY t
  ) WHERE rk <= {SKETCH_PAIR_TOP_N}
),
pairs AS (SELECT a.t AS ta, b.t AS tb FROM types a JOIN types b ON a.t < b.t),
grid AS (
  SELECT p.ta, p.tb, s.bkt,
         MAX(CASE WHEN s.t = p.ta THEN s.max_rho END) AS ra,
         MAX(CASE WHEN s.t = p.tb THEN s.max_rho END) AS rb,
         MAX(s.max_rho) AS ru
  FROM sk s JOIN pairs p ON s.t = p.ta OR s.t = p.tb
  GROUP BY 1, 2, 3
),
agg AS (
  SELECT ta, tb,
    CAST(SUM(COALESCE(CAST(power(2.0, {r1} - ra) AS BIGINT), {zw}))
         + {zw} * ({HLL_M} - COUNT(*)) AS BIGINT) AS wa,
    CAST(SUM(COALESCE(CAST(power(2.0, {r1} - rb) AS BIGINT), {zw}))
         + {zw} * ({HLL_M} - COUNT(*)) AS BIGINT) AS wb,
    CAST(SUM(CAST(power(2.0, {r1} - ru) AS BIGINT))
         + {zw} * ({HLL_M} - COUNT(*)) AS BIGINT) AS wu
  FROM grid GROUP BY 1, 2
),
ex AS (
  SELECT ta, tb, CAST(SUM(ia * ib) AS BIGINT) AS n_inter_exact
  FROM (
    SELECT p.ta, p.tb, u.u,
           MAX(CASE WHEN u.t = p.ta THEN 1 ELSE 0 END) AS ia,
           MAX(CASE WHEN u.t = p.tb THEN 1 ELSE 0 END) AS ib
    FROM (SELECT DISTINCT event_type AS t, elem AS u FROM elems) u
    JOIN pairs p ON u.t = p.ta OR u.t = p.tb
    GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)
SELECT agg.ta, agg.tb,
       {scale!r} / CAST(wa AS DOUBLE) AS est_a,
       {scale!r} / CAST(wb AS DOUBLE) AS est_b,
       {scale!r} / CAST(wu AS DOUBLE) AS est_union,
       {scale!r} / CAST(wa AS DOUBLE) + {scale!r} / CAST(wb AS DOUBLE)
         - {scale!r} / CAST(wu AS DOUBLE) AS est_inter,
       n_inter_exact
FROM agg JOIN ex ON agg.ta = ex.ta AND agg.tb = ex.tb
"""


HLL_INTERSECT_SQL = _hll_intersect_sql()


# ------------------------------------------------ nearest as-of join --

NEAR_WIN_US = 3 * 24 * 3_600 * 1_000_000  # +/- 3-day search radius


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: for each order, the customer's
    event CLOSEST in time (either direction) within a ±3-day radius —
    the "what was the user doing around this transaction" join of
    fraud/attribution features, completing the backward
    (``join_asof_latest_order``) / forward (``join_asof_forward``)
    pair. Ties (equidistant before/after) go to the EARLIER event,
    then event_id; orders with no activity in the radius keep a NULL
    row (the silence is the feature).

    Same scale shape as the directional forms: equi-join on the user
    key with the radius as a post-filter — fan-out bounded by per-user
    activity inside the window — then one min-by-struct aggregate with
    map-side combine. No window function, no per-order sort.
    """
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) * 1_000_000)
        .alias("od_us"),
    )
    ev_raw = load_table(spark, sf_dir, "events")
    ev = ev_raw.select(
        "user_id", ts_micros().alias("ev_us"), "event_id", "event_type"
    )
    joined = od.join(
        ev,
        (F.col("o_custkey") == F.col("user_id"))
        & (F.abs(F.col("ev_us") - F.col("od_us")) <= NEAR_WIN_US),
        "left",
    )
    best = F.min(
        F.struct(
            F.abs(F.col("ev_us") - F.col("od_us")).alias("adist"),
            F.col("ev_us").alias("ev_us"),
            F.col("event_id").alias("event_id"),
            F.col("event_type").alias("event_type"),
        )
    ).alias("b")
    return joined.groupBy("o_orderkey").agg(best).select(
        "o_orderkey",
        F.col("b.event_id").alias("near_event_id"),
        F.col("b.ev_us").alias("near_event_us"),
        F.col("b.adist").alias("near_delta_us"),
        F.col("b.event_type").alias("near_event_type"),
    )


JOIN_ASOF_NEAR_SQL = f"""
WITH ranked AS (
  SELECT o.o_orderkey, e.event_id, epoch_us(e.ts) AS ev_us, e.event_type,
         abs(epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)))
           AS adist,
         row_number() OVER (
           PARTITION BY o.o_orderkey
           ORDER BY abs(epoch_us(e.ts)
                        - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))),
                    epoch_us(e.ts), e.event_id
         ) AS rn
  FROM orders o LEFT JOIN events e
    ON o.o_custkey = e.user_id
   AND abs(epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)))
       <= {NEAR_WIN_US}
)
SELECT o_orderkey, event_id AS near_event_id, ev_us AS near_event_us,
       adist AS near_delta_us, event_type AS near_event_type
FROM ranked WHERE rn = 1
"""


# ------------------------------------------ chi-square selection --

CHI2_MIN_DF = 5
CHI2_TOPK = 10
_CHI2_D19 = "decimal(19,0)"


def feature_chi2_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: for every (source, token) pair
    the 2×2-contingency χ² statistic of "document contains token"
    vs "document belongs to source", keeping each source's top-10
    most-discriminative tokens — the classic supervised vocabulary
    selector for text classifiers (and the corpus-mixture telltale:
    a token that over-indexes one source signals template leakage).

    EXACT: with a = |docs of s with t|, S = |docs of s|, T = |docs
    with t|, N = |docs|: b = S−a, c = T−a, d = N−S−T+a and
      χ²·1e3 = (N·(ad−bc)²·1000) DIV ((a+b)(c+d)(a+c)(b+d))
    computed in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — the
    intermediate (ad−bc)² overflows int64 at fixture scale already,
    the same widening ``ts_autocorr_lag`` uses. Log-free, DIV-only.

    Scale: the (doc, token) grain dedups array-side inside the scan
    task; one map-side-combined aggregate lands the (source, token)
    doc-count table, from which every margin (t_docs, s_docs, N)
    derives without touching the corpus again; top-k repartitions by
    source. Tokens under CHI2_MIN_DF docs are dropped first — the
    classic low-df guard that also caps the pair table.
    """
    docs = load_table_cpu(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    n_docs = docs.select(F.count("*").alias("n_total"))
    src_sz = docs.groupBy("source").agg(F.count("*").alias("s_docs"))
    # (doc, token) dedup happens ARRAY-SIDE (doc_id is the row key, so
    # array_distinct of the doc's tokens IS the distinct (doc, source,
    # token) grain) — the global DISTINCT exchange never exists, and
    # the exploded stream flows straight into ONE map-side-combined
    # (source, token) aggregate. Both margins derive from that small
    # table: a = per-(source, token) doc count, t_docs = Σ_sources a —
    # so the corpus is scanned ONCE and the only big exchange is the
    # partially-aggregated (source, token) one (round-13 optimization:
    # was 2 explode+distinct passes + a broadcast join against the
    # token stream; values identical).
    doc_tok = docs.select(
        "source",
        F.explode(
            F.array_distinct(
                F.filter(F.split("text", " "), lambda w: w != "")
            )
        ).alias("token"),
    )
    a_raw = (
        doc_tok.groupBy("source", "token")
        .agg(F.count("*").alias("a"))
        # two consumers (t_docs margin + the join back) — materialize
        # the |sources|·|vocab|-row table once instead of re-running
        # the corpus explode+aggregate per consumer
        .localCheckpoint(eager=False)
    )
    tok_df = a_raw.groupBy("token").agg(
        F.sum("a").alias("t_docs")
    ).filter(F.col("t_docs") >= CHI2_MIN_DF)
    # vocab-derived margin table: broadcast only under the source-byte
    # gate (unbounded at 100 TB -- see tables.BCAST_SRC_CAP_BYTES)
    a_tab = a_raw.join(bcast_gated(tok_df, sf_dir), "token").select(
        "source", "token", "t_docs", "a"
    )
    cells = (
        a_tab.join(F.broadcast(src_sz), "source")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "source", "token", "a",
            (F.col("s_docs") - F.col("a")).alias("b"),
            (F.col("t_docs") - F.col("a")).alias("c"),
            (F.col("n_total") - F.col("s_docs") - F.col("t_docs")
             + F.col("a")).alias("d"),
            "n_total",
        )
    )
    chi2 = cells.select(
        "source", "token", "a", "b", "c", "d",
        F.expr(
            f"""CASE WHEN (a + b) > 0 AND (c + d) > 0
                      AND (a + c) > 0 AND (b + d) > 0
                THEN (CAST(n_total AS {_CHI2_D19})
                      * CAST(a * d - b * c AS {_CHI2_D19})
                      * CAST(a * d - b * c AS {_CHI2_D19}) * 1000)
                     div (CAST((a + b) AS {_CHI2_D19})
                          * CAST((c + d) AS {_CHI2_D19})
                          * CAST((a + c) AS {_CHI2_D19})
                          * CAST((b + d) AS {_CHI2_D19}))
                END"""
        ).alias("chi2_e3"),
    ).filter(F.col("chi2_e3").isNotNull())
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.desc("chi2_e3"), F.asc("token")
        )
    )
    return (
        chi2.withColumn("rn", rn)
        .filter(F.col("rn") <= CHI2_TOPK)
        .select("source", "token", "a", "b", "c", "d", "chi2_e3", "rn")
    )


FEATURE_CHI2_SQL = f"""
WITH docs AS (SELECT doc_id, source, text FROM documents),
n AS (SELECT COUNT(*) AS n_total FROM docs),
src_sz AS (SELECT source, COUNT(*) AS s_docs FROM docs GROUP BY 1),
doc_tok AS (
  SELECT DISTINCT doc_id, source, token FROM (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
    FROM docs
  ) WHERE token <> ''
),
tok_df AS (
  SELECT token, COUNT(*) AS t_docs FROM doc_tok GROUP BY 1
  HAVING COUNT(*) >= {CHI2_MIN_DF}
),
a_tab AS (
  SELECT dt.source, dt.token, td.t_docs, COUNT(*) AS a
  FROM doc_tok dt JOIN tok_df td ON dt.token = td.token
  GROUP BY 1, 2, 3
),
cells AS (
  SELECT a_tab.source, token, a,
         s_docs - a AS b, t_docs - a AS c,
         n_total - s_docs - t_docs + a AS d, n_total
  FROM a_tab JOIN src_sz ON a_tab.source = src_sz.source CROSS JOIN n
),
chi2 AS (
  SELECT source, token, a, b, c, d,
         (CAST(n_total AS HUGEINT)
          * CAST(a * d - b * c AS HUGEINT)
          * CAST(a * d - b * c AS HUGEINT) * 1000)
         // (CAST(a + b AS HUGEINT) * CAST(c + d AS HUGEINT)
             * CAST(a + c AS HUGEINT) * CAST(b + d AS HUGEINT)) AS chi2_e3
  FROM cells
  WHERE (a + b) > 0 AND (c + d) > 0 AND (a + c) > 0 AND (b + d) > 0
),
ranked AS (
  SELECT source, token, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
         CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
         CAST(chi2_e3 AS BIGINT) AS chi2_e3,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY chi2_e3 DESC, token ASC) AS rn
  FROM chi2
)
SELECT source, token, a, b, c, d, chi2_e3, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {CHI2_TOPK}
"""


CV_FOLDS = 5


def sample_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic K-fold cross-validation assignment with a
    balance audit: docs land in fold = hash(doc_id) mod 5 (the
    ``target_encode_oof`` assignment, surfaced as its own artifact so
    every trainer uses the SAME folds), reported per (fold, lang)
    with each fold's share of the class in ppm and its deviation
    from the uniform 200k — the skew check that catches a bad hash
    or a sorted-id pathology before any model trains on the split.

    One scan, |folds|·|langs| output rows.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    fold = F.pmod(
        hash64(F.concat(F.lit("cv#"), F.col("doc_id").cast("string"))),
        F.lit(CV_FOLDS),
    )
    cells = docs.withColumn("fold", fold).groupBy("fold", "lang").agg(
        F.count("*").alias("n_docs")
    )
    class_tot = F.sum("n_docs").over(Window.partitionBy("lang"))
    return cells.withColumn("lang_total", class_tot).select(
        "fold",
        "lang",
        "n_docs",
        "lang_total",
        F.expr("(n_docs * 1000000) DIV lang_total").alias("share_ppm"),
        F.expr(
            f"(n_docs * 1000000) DIV lang_total - 1000000 DIV {CV_FOLDS}"
        ).alias("skew_ppm"),
    )


def _cv_folds_sql() -> str:
    h = hash64_sql("'cv#' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH cells AS (
  SELECT (({h}) % {CV_FOLDS} + {CV_FOLDS}) % {CV_FOLDS} AS fold, lang,
         COUNT(*) AS n_docs
  FROM documents GROUP BY 1, 2
)
SELECT CAST(fold AS BIGINT) AS fold, lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
       CAST((n_docs * 1000000) // SUM(n_docs) OVER (PARTITION BY lang)
            AS BIGINT) AS share_ppm,
       CAST((n_docs * 1000000) // SUM(n_docs) OVER (PARTITION BY lang)
            - 1000000 // {CV_FOLDS} AS BIGINT) AS skew_ppm
FROM cells
"""


SAMPLE_CV_SQL = _cv_folds_sql()
