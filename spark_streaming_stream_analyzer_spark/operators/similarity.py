"""Similarity search over embedding columns (build plan M5).

Two tiers:
 - ``sim_topk_cosine`` — brute-force cosine top-k: broadcast the query
   set, score every (query, candidate) pair with JVM-side array
   expressions, keep top-k per query with a deterministic window.
   This is the baseline and the verification oracle.
 - ``sim_ivf_topk`` — IVF-style pruned search: candidates are limited
   to the query's coarse partition (here the fixture's ``label``
   column stands in for a centroid assignment; in production the
   assignment comes from a k-means pass). Same scoring, ~1/|cells| of
   the work. The scale path for 100 TB is exactly this shape: a
   cheap partitioner (IVF cell / LSH hyperplane bytes) keyed into the
   shuffle, then exact scoring inside each cell.

Numeric policy: the dot product and norms are LEFT FOLDS in element
order over float→double casts (``F.aggregate`` with 0.0 seed), exactly
mirrored by DuckDB ``list_reduce(list_prepend(0.0, ...))`` — IEEE adds
in the same order → bit-identical cosine, so rank cutoffs cannot
disagree between engines. A Pandas-UDF (Arrow-vectorized) scorer is the
faster hot path at scale but sums in a different order; it lives in
tests as an equivalence-within-tolerance check
(``tests/test_similarity.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table_cpu, prepend_cte

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 5
DIM = 64


def _fold_sum(arr: Column) -> Column:
    """Left-fold sum with 0.0 seed (order-exact across engines)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _cosine(a: Column, b: Column) -> Column:
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = _fold_sum(F.zip_with(ad, bd, lambda x, y: x * y))
    na = _fold_sum(F.transform(ad, lambda x: x * x))
    nb = _fold_sum(F.transform(bd, lambda x: x * x))
    return dot / (F.sqrt(na) * F.sqrt(nb))


#: squared-L2 of the ``embedding`` column (order-free — a sum of
#: squares is zero iff every component is) for oracle-side mirrors of
#: the :func:`_with_norm` zero-vector exclusion. Spark's ANSI double
#: division THROWS on the 0/0 a zero-norm cosine produces while
#: DuckDB's returns NULL, so any op whose kernel excludes zero norms
#: must exclude them in its oracle too — BEFORE any sampling/LIMIT,
#: or the selected sets diverge (round-11 EMBADV attestation:
#: emb_distance_histogram's hash-sample shifted by one zero vector).
_NORM2_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, x) -> a + x)"
)

_COS_SQL = f"""
  list_reduce(list_prepend(0.0, list_transform(generate_series(1, {DIM}),
      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
      (a, x) -> a + x)
  / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, {DIM}),
       i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))),
       (a, x) -> a + x))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, {DIM}),
       i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
       (a, x) -> a + x)))
"""


#: magnitude cap per embedding COMPONENT — the vector twin of the
#: events-tier ``EVENT_VALUE_ABS_MAX`` clause (round 9). Real encoder
#: outputs are O(1) per component; anything beyond ±100 is garbage
#: (a failed decode, an fp32 blow-up) and, left in, a SINGLE such
#: vector ANSI-kills every integer-exact op in the tier (round-11
#: EMBADV probe: one 1e10-component vector crashed
#: sim_kmeans_exact_cells / sim_ivf_exact_topk / emb_pca_power with
#: ARITHMETIC_OVERFLOW — the one-garbage-row-DoS shape). The tightest
#: int64 path is PCA's gram×eigenvector product chain, safe to
#: |x| ≈ 530 at PCA_Q=1e3/PCA_V=1e6/dim=64/n=500; 100 keeps ~5x
#: headroom there and ~2000x on the k-means distance path. The
#: exclusion is NOT silent: ``emb_ingest_audit`` reports per-reason
#: drop counts over the raw table (zero-filled), so a corpus whose
#: legitimate components exceed the cap shows up as a non-zero
#: ``overcap_component`` row instead of invisible data loss
#: (ADVICE r11 item 3).
EMB_COMPONENT_ABS_MAX = 100.0


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-tier source: the vectors table minus non-vectors.

    A production corpus carries rows whose embedding job failed or has
    not run (NULL), and rows whose encoder emitted garbage (NaN/Inf or
    magnitude blow-ups) — none of them are vectors, and every consumer
    in this tier (norms, ANN candidates, PQ/IVF training, kNN graphs,
    centroid stats) must ignore them rather than propagate NULL/NaN
    through array arithmetic or ANSI-crash the integer-exact ops
    (round-11 EMBADV probe — see ``EMB_COMPONENT_ABS_MAX``). The keep
    rule: vec_id non-NULL (round-12 VECKEY probe: the tier's results,
    kNN edges, and — critically — its centroid/codebook SEEDS are
    identified and ordered by vec_id; a NULL id fed the seed pick
    through engine-opposite NULLS FIRST/LAST ordering and silently
    diverged four clustering ops), embedding non-NULL, AND every
    component non-NULL, finite, and within ±EMB_COMPONENT_ABS_MAX.
    Every oracle in the tier carries the SAME rule via the shadow-CTE
    rewrite in :func:`_shadow_nonnull_embeddings`, so both engines see
    one vector set by construction. No-op on fixtures with
    fully-populated embeddings (all sf dirs — verified by selfcheck
    before/after). vec_id UNIQUENESS is a declared precondition (a
    colliding id makes vec_id-ordered seeds/tie-breaks ambiguous —
    pinned by test_veckey_collision_precondition_is_pinned).
    (NULL-payload corpus sweep, round 7; component clause, round 11;
    identity clause, round 12.)
    """
    return load_table_cpu(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & F.forall(
            "embedding",
            lambda x: x.isNotNull()
            & ~F.isnan(x)
            & (F.abs(x) <= F.lit(EMB_COMPONENT_ABS_MAX)),
        )
    )


def _shadow_nonnull_embeddings(sql: str) -> str:
    """Prepend a CTE that SHADOWS the ``embeddings`` view with its
    valid-vector projection — the oracle mirror of
    :func:`load_embeddings`'s keep rule (non-NULL embedding, every
    component non-NULL, finite, within ±EMB_COMPONENT_ABS_MAX).
    ``main.embeddings`` names the base view unambiguously — DuckDB
    resolves registered tables and views through the main schema.
    The bad-component test is spelled with an explicit ``isnan``
    because the engines' NaN comparison orders differ (DuckDB totals
    NaN above +Inf; Spark's NaN comparisons are false) — only the
    finite branch may rely on ``abs(x)``. Applied to every oracle
    constant in this tier at module bottom; keeps the 30+ oracle
    bodies untouched and alias-safe."""
    cte = (
        "embeddings AS (SELECT * FROM main.embeddings"
        " WHERE vec_id IS NOT NULL"
        " AND embedding IS NOT NULL"
        " AND len(list_filter(embedding, x -> x IS NULL OR isnan(x)"
        f" OR abs(x) > {EMB_COMPONENT_ABS_MAX!r})) = 0)"
    )
    return prepend_cte(sql, cte)


def _with_norm(df: DataFrame, emb: str, out: str) -> DataFrame:
    """L2 norm column; rows with zero norm are DROPPED — a zero vector
    has no direction, cosine against it is 0/0, and under ANSI mode
    that division would kill the task. Exclusion is the standard
    pre-index normalization step (and a no-op on the fixtures)."""
    ad = F.transform(emb, lambda x: x.cast("double"))
    return df.withColumn(
        out, F.sqrt(_fold_sum(F.transform(ad, lambda x: x * x)))
    ).filter(F.col(out) > 0)


def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per query vector (vec_id < 8).

    The query side is broadcast; the candidate scan is embarrassingly
    parallel; the per-query top-k window shuffles only |Q|·k survivors
    after AQE — at scale, replace row_number with a bounded
    per-partition heap via mapInPandas if |Q| is large.

    Norms are computed once per row (not per pair) — same arithmetic
    as folding inside the pair, so the oracle value is unchanged, but
    the per-pair work drops to one dot product.
    """
    # double-cast once per row (linear), not per scored pair
    em = _with_norm(
        load_embeddings(spark, sf_dir), "embedding", "nrm"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb_d"),
        "nrm",
    )
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb_d").alias("q_emb_d"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = em.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
    dot = _fold_sum(F.zip_with("q_emb_d", "emb_d", lambda x, y: x * y))
    scored = pairs.select(
        "q_id",
        "vec_id",
        (dot / (F.col("q_nrm") * F.col("nrm"))).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank", "cos_sim")
    )


SIM_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.q_id, e.vec_id, {_COS_SQL} AS cos_sim
  FROM embeddings e JOIN q ON e.vec_id <> q.q_id
)
SELECT q_id, vec_id, rank, cos_sim FROM (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
) t WHERE rank <= {TOP_K}
"""


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned cosine top-3: candidates restricted to the query's
    coarse cell (``label``). Scoring identical to the brute tier."""
    em = _with_norm(
        load_embeddings(spark, sf_dir), "embedding", "nrm"
    ).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb_d"),
        "nrm",
    )
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("emb_d").alias("q_emb_d"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = em.join(
        F.broadcast(q),
        (F.col("label") == F.col("q_label")) & (F.col("vec_id") != F.col("q_id")),
    )
    dot = _fold_sum(F.zip_with("q_emb_d", "emb_d", lambda x, y: x * y))
    scored = pairs.select(
        "q_id",
        "vec_id",
        (dot / (F.col("q_nrm") * F.col("nrm"))).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "vec_id", "rank", "cos_sim")
    )


SIM_IVF_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding
           FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.q_id, e.vec_id, {_COS_SQL} AS cos_sim
  FROM embeddings e JOIN q ON e.label = q.q_label AND e.vec_id <> q.q_id
)
SELECT q_id, vec_id, rank, cos_sim FROM (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
) t WHERE rank <= 3
"""


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm + mean component (array-expression pack used
    by normalization pipelines before indexing)."""
    em = load_embeddings(spark, sf_dir)
    ad = F.transform("embedding", lambda x: x.cast("double"))
    norm = F.sqrt(_fold_sum(F.transform(ad, lambda x: x * x)))
    return em.select(
        "vec_id",
        "label",
        norm.alias("l2_norm"),
        (_fold_sum(ad) / F.lit(float(DIM))).alias("mean_component"),
    )


EMB_NORMS_SQL = f"""
SELECT vec_id, label,
  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, x) -> a + x)) AS l2_norm,
  list_reduce(list_prepend(0.0, list_transform(embedding,
       x -> CAST(x AS DOUBLE))), (a, x) -> a + x) / {float(DIM)} AS mean_component
FROM embeddings
"""


#: Stable reason vocabulary for the ingest audit, in check order. A
#: row is classified by the FIRST failing clause, so the engines must
#: test in the same sequence (NaN before the abs() cap in particular —
#: the engines' NaN comparison orders differ, see
#: ``_shadow_nonnull_embeddings``). ±Inf lands in ``overcap_component``
#: (abs(Inf) > cap in both engines, and isnan(Inf) is false in both).
EMB_AUDIT_REASONS = (
    "kept",
    "null_vec_id",        # identity before payload (round-12 VECKEY)
    "null_embedding",
    "null_component",
    "nan_component",
    "overcap_component",
)


def emb_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row counts per embedding ingest-contract disposition, over the
    RAW embeddings table (deliberately not :func:`load_embeddings` —
    this is the one consumer that must see what the contract drops).

    The round-11 EMBADV contract (``EMB_COMPONENT_ABS_MAX``) silently
    excludes any vector with a NULL/NaN/beyond-cap component from
    every consumer in the tier; with no telemetry, real data loss —
    e.g. a legitimate unnormalized encoder whose components exceed the
    cap — would be invisible (ADVICE r11 item 3). This audit makes the
    exclusion observable: one row per ``EMB_AUDIT_REASONS`` entry,
    zero-filled via a left join from the static reason table, so a
    pipeline can alert on any non-``kept`` count without schema
    drift. One scan, map-side combine on a reason-vocabulary-sized
    key, broadcast join against a reason-table literal frame —
    trivially 100-TB-safe.
    """
    raw = load_table_cpu(spark, sf_dir, "embeddings")
    reason = (
        F.when(F.col("vec_id").isNull(), F.lit("null_vec_id"))
        .when(F.col("embedding").isNull(), F.lit("null_embedding"))
        .when(
            F.exists("embedding", lambda x: x.isNull()),
            F.lit("null_component"),
        )
        .when(
            F.exists("embedding", lambda x: F.isnan(x)),
            F.lit("nan_component"),
        )
        .when(
            F.exists(
                "embedding",
                lambda x: F.abs(x) > F.lit(EMB_COMPONENT_ABS_MAX),
            ),
            F.lit("overcap_component"),
        )
        .otherwise(F.lit("kept"))
    )
    counted = (
        raw.select(reason.alias("reason"))
        .groupBy("reason")
        .agg(F.count("*").alias("n_rows"))
    )
    reasons = spark.createDataFrame(
        [(r,) for r in EMB_AUDIT_REASONS], "reason string"
    )
    return reasons.join(F.broadcast(counted), "reason", "left").select(
        "reason",
        F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows"),
    )


# Raw-table oracle ON PURPOSE: this must stay OUT of the
# _shadow_nonnull_embeddings wrap list at module bottom, or it would
# audit the already-filtered view and count everything as kept.
EMB_INGEST_AUDIT_SQL = f"""
WITH classified AS (
  SELECT CASE
    WHEN vec_id IS NULL THEN 'null_vec_id'
    WHEN embedding IS NULL THEN 'null_embedding'
    WHEN len(list_filter(embedding, x -> x IS NULL)) > 0
      THEN 'null_component'
    WHEN len(list_filter(embedding, x -> isnan(x))) > 0
      THEN 'nan_component'
    WHEN len(list_filter(embedding,
                         x -> abs(x) > {EMB_COMPONENT_ABS_MAX!r})) > 0
      THEN 'overcap_component'
    ELSE 'kept' END AS reason
  FROM embeddings
),
reasons(reason) AS (VALUES {", ".join(f"('{r}')" for r in EMB_AUDIT_REASONS)}),
counted AS (SELECT reason, COUNT(*) AS n FROM classified GROUP BY 1)
SELECT r.reason, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_rows
FROM reasons r LEFT JOIN counted c USING (reason)
"""


def emb_dim_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION min/max/range over the corpus — the calibration
    table a per-dim quantizer (and any PQ codebook) is built from
    (``emb_quantize_int8`` calibrates per-vector; this is the
    corpus-wide view).

    min/max are order-insensitive, so unlike means they are exactly
    portable over floats with no summation-order hazard. One
    posexplode + one hash-agg on DIM keys — the shuffle carries DIM
    partial rows per task, nothing else."""
    em = load_embeddings(spark, sf_dir)
    comp = em.select(F.posexplode("embedding").alias("dim", "v"))
    return comp.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.min("v").cast("double").alias("min_v"),
        F.max("v").cast("double").alias("max_v"),
        (F.max("v").cast("double") - F.min("v").cast("double")).alias("range_v"),
    )


EMB_DIM_MINMAX_SQL = """
SELECT dim, COUNT(*) AS n,
       CAST(MIN(v) AS DOUBLE) AS min_v,
       CAST(MAX(v) AS DOUBLE) AS max_v,
       CAST(MAX(v) AS DOUBLE) - CAST(MIN(v) AS DOUBLE) AS range_v
FROM (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS v
  FROM embeddings
) t
GROUP BY dim
"""


# ------------------------------------------------------------- k-means --

KMEANS_K = 8
KMEANS_ITERS = 3


def sim_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mini k-means over the embedding column — the
    production replacement for the fixture's ``label`` as the IVF
    coarse quantizer (see ``sim_ivf_topk``).

    Iterative algorithm expressed natively in DataFrame ops (no RDDs,
    no driver-side data loops): each of the KMEANS_ITERS rounds is
      assign:    points × broadcast(centroids) → argmin distance
                 (min-of-struct with cell tiebreak → deterministic)
      recompute: posexplode to (cell, dim, x) → avg per (cell, dim)
                 → sort_array(collect_list) back to a vector
    Only the K×DIM centroid table moves between rounds (collected to
    the driver as a *model*, re-broadcast next round — model-sized, not
    data-sized). Init is the K lowest vec_ids: fully deterministic, so
    the final assignment is reproducible bit-for-bit. No SQL oracle
    (genuinely iterative — the driver records a rows-only check);
    tests/test_similarity.py asserts monotone inertia descent and
    assignment determinism.

    At 100 TB: assignment is an embarrassingly parallel map over a
    broadcast model; recompute is one partial+final aggregate per
    round. This is exactly MLlib's dataflow; owning it keeps the
    engine self-contained and the quantizer pluggable.
    """
    em = load_embeddings(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    em = em.cache()
    centroids = (
        em.orderBy("vec_id")
        .limit(KMEANS_K)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("cell"),
            F.col("v").alias("c"),
        )
    )

    def assign(cent: DataFrame) -> DataFrame:
        dist = _fold_sum(
            F.zip_with("v", "c", lambda x, y: (x - y) * (x - y))
        )
        return (
            em.crossJoin(F.broadcast(cent))
            .select("vec_id", "v", "cell", dist.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cell", "v")).alias("m"))
            .select(
                "vec_id",
                F.col("m.cell").alias("cell"),
                F.col("m.d2").alias("d2"),
                F.col("m.v").alias("v"),
            )
        )

    cur = centroids
    assigned = None
    try:
        for it in range(KMEANS_ITERS):
            assigned = assign(cur)
            if it == KMEANS_ITERS - 1:
                # the final assignment is the answer — recomputing
                # (and collecting) a centroid table nobody reads would
                # be one wasted job per call (the exact twin documents
                # the same break)
                break
            dims = assigned.select(
                "cell", F.posexplode("v").alias("dim", "x")
            )
            cur = (
                dims.groupBy("cell", "dim")
                .agg(F.avg("x").alias("cx"))
                .groupBy("cell")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "cx"))),
                        lambda s: s.cx,
                    ).alias("c")
                )
            )
            # materialize the model (K rows) so the next round's plan
            # doesn't re-derive all previous rounds lazily
            cur = spark.createDataFrame(
                cur.collect(), schema="cell int, c array<double>"
            )

        out = assigned.select(
            "vec_id", "cell", F.round("d2", 6).alias("d2")
        ).localCheckpoint()
    finally:
        # same try/finally discipline as the exact twin: cached em
        # blocks must not accumulate across invocations in a session
        em.unpersist()
    return out


KMEANS_QSCALE = 1000  #: quantization units per 1.0 of embedding value


def sim_kmeans_exact_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact k-means — the iterative quantizer made fully
    VALUE-ORACLED (the float variant ``sim_kmeans_cells`` is
    necessarily a rows-only check; this one is bit-comparable on any
    engine, the same trick ``graph_pagerank_exact`` plays for
    PageRank):

      - embeddings quantized to int64 units via the portable rounding
        ``floor(x*Q + 0.5)`` (engine round() half-cases differ);
      - assignment by exact int64 squared distance, ties to the lowest
        cell;
      - centroid update is the elementwise integer mean
        ``floor(sum/count)`` — sums ≤ ~1e7 are exact in the double
        divide, so the floor is portable.

    Every round is associative-integer arithmetic → identical on any
    partitioning and in DuckDB, where the oracle unrolls the
    KMEANS_ITERS rounds as CTEs over (vec, dim, x) triples.

    Scale shape is the float variant's: assignment = map over a
    broadcast K×DIM model; update = one partial/final aggregate per
    round; only the model crosses rounds.
    """
    em = load_embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * KMEANS_QSCALE + F.lit(0.5)
            ).cast("long"),
        ).alias("v"),
    )
    # cache scope = the centroid-iteration loop only (each round's
    # collect() re-scans em); unpersisted in the finally so repeated
    # invocations (sim_ivf_exact_topk calls this too) don't accumulate
    # cached blocks for the life of the session. The returned plan
    # recomputes em lazily once — a cheap quantize map.
    em = em.cache()
    try:
        cent = (
            em.orderBy("vec_id")
            .limit(KMEANS_K)
            .select(
                F.row_number().over(Window.orderBy("vec_id")).alias("cell"),
                F.col("v").alias("c"),
            )
        )
        dist = F.aggregate(
            F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        assigned = None
        for it in range(KMEANS_ITERS):
            assigned = (
                em.crossJoin(F.broadcast(cent))
                .select("vec_id", "v", "cell", dist.alias("d2"))
                .groupBy("vec_id")
                .agg(F.min(F.struct("d2", "cell", "v")).alias("m"))
                .select(
                    "vec_id",
                    F.col("m.cell").alias("cell"),
                    F.col("m.d2").alias("d2"),
                    F.col("m.v").alias("v"),
                )
            )
            if it == KMEANS_ITERS - 1:
                break
            dims = assigned.select("cell", F.posexplode("v").alias("dim", "x"))
            cur = (
                dims.groupBy("cell", "dim")
                .agg(
                    F.floor(
                        F.sum("x").cast("double") / F.count("*").cast("double")
                    )
                    .cast("long")
                    .alias("cx")
                )
                .groupBy("cell")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "cx"))),
                        lambda s: s.cx,
                    ).alias("c")
                )
            )
            cent = spark.createDataFrame(
                cur.collect(), schema="cell int, c array<long>"
            )
        # materialize the final assignment while the cache is live so
        # the returned (checkpointed) frame doesn't depend on em at all
        assigned = assigned.select("vec_id", "cell", "d2").localCheckpoint()
    finally:
        em.unpersist()
    return assigned


def _kmeans_exact_sql() -> str:
    q = KMEANS_QSCALE
    sql = f"""
WITH qv AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {q} + 0.5) AS BIGINT) AS x
  FROM embeddings
),
seed AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS cell
  FROM (SELECT DISTINCT vec_id FROM qv ORDER BY vec_id LIMIT {KMEANS_K})
),
c0 AS (
  SELECT seed.cell, qv.dim, qv.x AS cx FROM seed JOIN qv USING (vec_id)
)"""
    prev = "c0"
    for r in range(1, KMEANS_ITERS + 1):
        sql += f""",
d{r} AS (
  SELECT qv.vec_id, {prev}.cell,
         CAST(SUM((qv.x - {prev}.cx) * (qv.x - {prev}.cx)) AS BIGINT) AS d2
  FROM qv JOIN {prev} USING (dim) GROUP BY 1, 2
),
a{r} AS (
  SELECT vec_id, cell, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM d{r}
  ) t WHERE rn = 1
)"""
        if r < KMEANS_ITERS:
            sql += f""",
c{r} AS (
  SELECT a{r}.cell, qv.dim,
         CAST(floor(CAST(CAST(SUM(qv.x) AS BIGINT) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cx
  FROM a{r} JOIN qv USING (vec_id) GROUP BY 1, 2
)"""
            prev = f"c{r}"
    sql += f"""
SELECT vec_id, CAST(cell AS INT) AS cell, d2 FROM a{KMEANS_ITERS}
"""
    return sql


SIM_KMEANS_EXACT_SQL = _kmeans_exact_sql()


def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end production ANN: IVF top-3 searched within LEARNED
    k-means cells (``sim_kmeans_cells``) instead of the fixture's
    ``label`` stand-in. Train (iterative) → assign → cell-pruned exact
    scoring — the complete shape a 100 TB vector index runs. Iterative
    upstream ⇒ no SQL oracle (rows-only driver check); determinism of
    the whole chain is pinned by the kmeans tests plus the
    deterministic scoring tiebreaks."""
    cells = sim_kmeans_cells(spark, sf_dir).select("vec_id", "cell")
    em = _with_norm(
        load_embeddings(spark, sf_dir), "embedding", "nrm"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb_d"),
        "nrm",
    ).join(cells, "vec_id")
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("cell").alias("q_cell"),
        F.col("emb_d").alias("q_emb_d"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = em.join(
        F.broadcast(q),
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("q_id")),
    )
    dot = _fold_sum(F.zip_with("q_emb_d", "emb_d", lambda x, y: x * y))
    scored = pairs.select(
        "q_id", "vec_id", (dot / (F.col("q_nrm") * F.col("nrm"))).alias("cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "vec_id", "rank", "cos_sim")
    )


def sim_ivf_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ANN with a LEARNED quantizer, fully value-oracled:
    IVF top-3 searched within ``sim_kmeans_exact_cells`` cells. The
    float-k-means chain (``sim_ivf_kmeans_topk``) is necessarily a
    rows-only driver check; here the quantizer is the integer-exact
    k-means and the cosine scoring is the order-fixed left fold, so
    the ENTIRE train → assign → cell-pruned-score pipeline hash-matches
    the DuckDB replica. Same plan shape: broadcast query set, one
    scan of the indexed side, window top-k."""
    cells = sim_kmeans_exact_cells(spark, sf_dir).select("vec_id", "cell")
    em = _with_norm(
        load_embeddings(spark, sf_dir), "embedding", "nrm"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb_d"),
        "nrm",
    ).join(cells, "vec_id")
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("cell").alias("q_cell"),
        F.col("emb_d").alias("q_emb_d"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = em.join(
        F.broadcast(q),
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("q_id")),
    )
    dot = _fold_sum(F.zip_with("q_emb_d", "emb_d", lambda x, y: x * y))
    scored = pairs.select(
        "q_id", "vec_id", (dot / (F.col("q_nrm") * F.col("nrm"))).alias("cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "vec_id", "rank", "cos_sim")
    )


def _ivf_exact_sql() -> str:
    # reuse the k-means CTE chain, swapping its final SELECT for the
    # IVF search stages
    chain, _final = SIM_KMEANS_EXACT_SQL.strip().rsplit("SELECT vec_id", 1)
    return f"""{chain}, cells AS (SELECT vec_id, cell FROM a{KMEANS_ITERS}),
q AS (
  SELECT e.vec_id AS q_id, cells.cell AS q_cell, e.embedding
  FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id
  WHERE e.vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.q_id, e.vec_id, {_COS_SQL} AS cos_sim
  FROM embeddings e
  JOIN cells ce ON e.vec_id = ce.vec_id
  JOIN q ON ce.cell = q.q_cell AND e.vec_id <> q.q_id
)
SELECT q_id, vec_id, rank, cos_sim FROM (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id)
           AS rank
  FROM scored
) t WHERE rank <= 3
"""


SIM_IVF_EXACT_SQL = _ivf_exact_sql()


def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality, measured in-engine: recall@3 of the IVF-pruned
    tier against the brute-force ground truth, per query vector. This
    is the metric a pipeline owner watches when tuning cell count vs
    probe cost — here it is a first-class, oracle-checked query (both
    tiers are deterministic, so recall is too).

    Scale: both inputs are |Q|·k rows; everything after the two
    similarity scans is broadcast-sized.
    """
    brute = (
        sim_topk_cosine(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("q_id", "vec_id")
        .alias("b")
    )
    ivf = sim_ivf_topk(spark, sf_dir).select("q_id", "vec_id").alias("i")
    joined = brute.join(
        ivf,
        (F.col("b.q_id") == F.col("i.q_id"))
        & (F.col("b.vec_id") == F.col("i.vec_id")),
        "left",
    )
    return (
        joined.groupBy(F.col("b.q_id").alias("q_id"))
        .agg(
            F.count("*").alias("n_true"),
            F.count(F.col("i.vec_id")).alias("n_hit"),
        )
        .select(
            "q_id",
            "n_true",
            "n_hit",
            (
                F.col("n_hit").cast("double") / F.col("n_true").cast("double")
            ).alias("recall_at_3"),
        )
    )


SIM_RECALL_SQL = f"""
WITH brute AS (
  SELECT q_id, vec_id FROM ({SIM_TOPK_SQL}) b WHERE rank <= 3
),
ivf AS (SELECT q_id, vec_id FROM ({SIM_IVF_SQL}) i)
SELECT b.q_id AS q_id,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit,
       CAST(COUNT(i.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS recall_at_3
FROM brute b LEFT JOIN ivf i
  ON b.q_id = i.q_id AND b.vec_id = i.vec_id
GROUP BY 1
"""


RANGE_TAU = 0.2


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold (range) similarity search: every candidate with
    cosine ≥ RANGE_TAU per query vector — the "all near neighbors"
    companion to top-k. Structurally the cheapest tier of all: a
    broadcast of the query side, an embarrassingly parallel scored
    scan, and a filter. NO shuffle anywhere — there is no window and
    no aggregate, so at 100 TB this is a single map stage whose output
    streams straight to the sink. The deterministic left-fold scoring
    makes the τ cutoff bit-identical across engines."""
    em = _with_norm(
        load_embeddings(spark, sf_dir), "embedding", "nrm"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb_d"),
        "nrm",
    )
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb_d").alias("q_emb_d"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = em.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
    dot = _fold_sum(F.zip_with("q_emb_d", "emb_d", lambda x, y: x * y))
    return pairs.select(
        "q_id",
        "vec_id",
        (dot / (F.col("q_nrm") * F.col("nrm"))).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= RANGE_TAU)


SIM_RANGE_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
           WHERE vec_id < {N_QUERIES})
SELECT q.q_id, e.vec_id, {_COS_SQL} AS cos_sim
FROM embeddings e JOIN q ON e.vec_id <> q.q_id
WHERE {_COS_SQL} >= {RANGE_TAU}
"""


# ------------------------------------------ SRP-LSH (cosine ANN tier) --

SRP_PLANES = 16
SRP_BANDS = 4
SRP_BAND_BITS = SRP_PLANES // SRP_BANDS      # 4 bits → 16 buckets/band
_SRP_MASK = (1 << SRP_BAND_BITS) - 1


def _srp_signs(n_planes: int = SRP_PLANES) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix (n_planes × DIM), derived
    once from md5 digests of fixed labels. It is a *public constant* —
    embedded as literals in BOTH engines' queries, so signatures (and
    therefore buckets and candidates) match bit-for-bit with no
    cross-engine hashing at query time. The first 16 rows are shared
    by every SRP tier (the label scheme is positional)."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"srp:{p}:{d}".encode()).digest()[0] % 2 == 0 else -1.0
            for d in range(DIM)
        ]
        for p in range(n_planes)
    ]


_SRP = _srp_signs()


def _srp_sig(emb_d: Column, planes: list[list[float]] | None = None) -> Column:
    """Signed-random-projection signature (one bit per hyperplane:
    bit p = sign of the dot product against plane p). Pure JVM array
    expressions. Defaults to the 16-plane matrix ``_SRP``."""
    mat = _SRP if planes is None else planes
    sig = F.lit(0).cast("long")
    for p in range(len(mat)):
        plane = F.array(*[F.lit(v) for v in mat[p]])
        dot = _fold_sum(F.zip_with(emb_d, plane, lambda x, y: x * y))
        sig = sig + F.when(dot >= 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def sim_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed cosine ANN via signed random projections: the
    third index tier next to brute force (``sim_topk_cosine``) and IVF
    (``sim_ivf_topk``). Signature computation is a map-only pass (no
    shuffle); banding (4 bands × 4 bits) OR-amplifies recall exactly
    like the MinHash banding in ``dedup_minhash_lsh``; candidates are
    the band-bucket cohabitants of the query vectors, then reranked
    with the exact order-deterministic fold cosine.

    Scale shape at 100 TB: signatures cost one scan; the candidate
    join touches only |Q|·avg-bucket rows instead of |Q|·N — and
    unlike IVF there is no model to train. Everything after the
    signature scan is broadcast-sized (query bands, candidate list).
    """
    em = _with_norm(
        load_embeddings(spark, sf_dir), "embedding", "nrm"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb_d"),
        "nrm",
    )
    # No localCheckpoint here, deliberately (A/B-measured at sf0.1:
    # checkpointing either the full em frame or a sig-only frame is
    # slower than recompute). Catalyst makes the multi-consumer reads
    # cheap on its own: the rerank branches prune the `sig` projection
    # away entirely, and the query-side branches push `vec_id <
    # N_QUERIES` down to the parquet scan — so the only full-cost
    # signature pass is the one band-explode scan, at any scale.
    # Round-14 re-measure (VERDICT r13 item 3 — was the decision a
    # single-file-scan artifact?): rebuilt the embeddings fixture as
    # 32 parquet files so scan parallelism is real and re-ran the
    # checkpoint-vs-none interleave there: FLAT (none 4.30/2.64/3.25/
    # 2.71 s vs ckpt 2.98/3.24/2.68/2.67 s warmed), and flat on the
    # single-file shape too. The decision is not fixture-shaped;
    # no-checkpoint stays (keeps lineage and the per-branch pushdowns).
    sigs = em.select("vec_id", _srp_sig(F.col("emb_d")).alias("sig"))
    bands = sigs.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", b * SRP_BAND_BITS)
                        .bitwiseAND(F.lit(_SRP_MASK))
                        .alias("bv"),
                    )
                    for b in range(SRP_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "bb.band", "bb.bv")
    qb = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "band", "bv"
    )
    cand = (
        bands.join(F.broadcast(qb), ["band", "bv"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb_d").alias("q_emb_d"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        em.select("vec_id", "emb_d", "nrm")
        .join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(q), "q_id")
    )
    dot = _fold_sum(F.zip_with("q_emb_d", "emb_d", lambda x, y: x * y))
    scored = scored.select(
        "q_id", "vec_id", (dot / (F.col("q_nrm") * F.col("nrm"))).alias("cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank", "cos_sim")
    )


_SRP_SQL_PLANES = ", ".join(
    f"({p}, [{', '.join(repr(v) for v in _SRP[p])}])" for p in range(SRP_PLANES)
)
#: derived from SRP_BANDS like the KNNG tier's _KNNG_SQL_BANDS — a
#: hardcoded (0),(1),(2),(3) would silently desynchronize the oracle
#: from the Spark band explode on any retune
_SRP_SQL_BANDS = ", ".join(f"({b})" for b in range(SRP_BANDS))

SIM_SRP_SQL = f"""
WITH planes(p, sgn) AS (VALUES {_SRP_SQL_PLANES}),
emb AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d
        FROM embeddings),
dots AS (
  SELECT e.vec_id, pl.p,
         list_reduce(list_prepend(0.0, list_transform(generate_series(1, {DIM}),
             i -> e.emb_d[i] * pl.sgn[i])), (a, x) -> a + x) AS dot
  FROM emb e CROSS JOIN planes pl
),
sigs AS (
  SELECT vec_id,
         SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS sig
  FROM dots GROUP BY 1
),
bands AS (
  SELECT vec_id, b.b,
         (sig >> (b.b * {SRP_BAND_BITS})) & {_SRP_MASK} AS bv
  FROM sigs CROSS JOIN (VALUES {_SRP_SQL_BANDS}) b(b)
),
cand AS (
  SELECT DISTINCT qb.vec_id AS q_id, c.vec_id
  FROM bands qb JOIN bands c ON qb.b = c.b AND qb.bv = c.bv
                             AND c.vec_id <> qb.vec_id
  WHERE qb.vec_id < {N_QUERIES}
),
scored AS (
  SELECT cand.q_id, cand.vec_id, {_COS_SQL} AS cos_sim
  FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
            JOIN embeddings q ON q.vec_id = cand.q_id
)
SELECT q_id, vec_id, rank, cos_sim FROM (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id)
           AS rank
  FROM scored
) t WHERE rank <= {TOP_K}
"""


# --------------------------------------- int8 scalar quantization --

Q_MAX = 127


def _quantized(em: DataFrame) -> DataFrame:
    """Add per-vector scale ``s`` (max-abs / 127) and int8-range codes
    ``ql`` (round-half-up via floor(x/s + 0.5) — portable: identical
    in Spark and DuckDB, unlike the engines' round()). Zero vectors
    (s == 0) are dropped — nothing to quantize, same policy as
    ``_with_norm``."""
    s = F.array_max(F.transform("emb_d", F.abs)) / F.lit(float(Q_MAX))
    df = em.withColumn("s", s).filter(F.col("s") > 0)
    ql = F.transform("emb_d", lambda x: F.floor(x / F.col("s") + F.lit(0.5)))
    return df.withColumn("ql", ql)


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit: per-vector code range, exact
    integer L1 mass, and reconstruction MSE. At 100 TB this transform
    shrinks the embedding lake 4× (float32 → int8 + one scale), which
    is usually the difference between an in-memory ANN index and one
    that spills; the audit columns are what a pipeline owner monitors
    to decide the quantizer is safe (mse bounded by s²/4, tested)."""
    em = load_embeddings(spark, sf_dir).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb_d"),
    )
    qz = _quantized(em)
    err = F.zip_with(
        "emb_d", "ql", lambda x, q: (x - q * F.col("s")) * (x - q * F.col("s"))
    )
    return qz.select(
        "vec_id",
        "label",
        F.array_min("ql").cast("long").alias("q_min"),
        F.array_max("ql").cast("long").alias("q_max"),
        F.aggregate(
            "ql", F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
        ).alias("q_l1"),
        (_fold_sum(err) / F.lit(float(DIM))).alias("recon_mse"),
    )


EMB_QUANT_SQL = f"""
WITH emb AS (SELECT vec_id, label,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d
             FROM embeddings),
scaled AS (
  SELECT vec_id, label, emb_d,
         list_aggregate(list_transform(emb_d, x -> abs(x)), 'max') / {float(Q_MAX)}
           AS s
  FROM emb
),
q AS (
  SELECT vec_id, label, emb_d, s,
         list_transform(emb_d, x -> CAST(floor(x / s + 0.5) AS BIGINT)) AS ql
  FROM scaled WHERE s > 0
)
SELECT vec_id, label,
       CAST(list_aggregate(ql, 'min') AS BIGINT) AS q_min,
       CAST(list_aggregate(ql, 'max') AS BIGINT) AS q_max,
       CAST(list_reduce(list_prepend(0::BIGINT, list_transform(ql, x -> abs(x))),
            (a, x) -> a + x) AS BIGINT) AS q_l1,
       list_reduce(list_prepend(0.0, list_transform(generate_series(1, {DIM}),
           i -> (emb_d[i] - ql[i] * s) * (emb_d[i] - ql[i] * s))),
           (a, x) -> a + x) / {float(DIM)} AS recon_mse
FROM q
"""


def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scored on int8 codes: the integer dot product is EXACT
    (≤ 64·127² ≪ 2⁶³, order-independent), rescaled by the two scalar
    scales into an approximate cosine. This is the memory-bandwidth
    scale path — scoring reads 4× fewer bytes than float32 and the
    inner loop is integer SIMD; the float path (``sim_topk_cosine``)
    stays as the exactness baseline the quantized ranks are audited
    against (tests bound the qcos error)."""
    em = _with_norm(
        load_embeddings(spark, sf_dir), "embedding", "nrm"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb_d"),
        "nrm",
    )
    qz = _quantized(em).select("vec_id", "nrm", "s", "ql")
    q = qz.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("nrm").alias("q_nrm"),
        F.col("s").alias("q_s"),
        F.col("ql").alias("q_ql"),
    )
    pairs = qz.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
    idot = F.aggregate(
        F.zip_with("q_ql", "ql", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    qcos = (F.col("q_s") * F.col("s") * idot.cast("double")) / (
        F.col("q_nrm") * F.col("nrm")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("qcos").desc(), F.col("vec_id"))
    return (
        pairs.select("q_id", "vec_id", qcos.alias("qcos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank", "qcos")
    )


SIM_QUANT_SQL = f"""
WITH emb AS (SELECT vec_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d
             FROM embeddings),
base AS (
  SELECT vec_id, emb_d,
         sqrt(list_reduce(list_prepend(0.0,
             list_transform(emb_d, x -> x * x)), (a, x) -> a + x)) AS nrm,
         list_aggregate(list_transform(emb_d, x -> abs(x)), 'max') / {float(Q_MAX)}
           AS s
  FROM emb
),
qz AS (
  SELECT vec_id, nrm, s,
         list_transform(emb_d, x -> CAST(floor(x / s + 0.5) AS BIGINT)) AS ql
  FROM base WHERE nrm > 0 AND s > 0
),
scored AS (
  SELECT q.vec_id AS q_id, e.vec_id,
         (q.s * e.s * CAST(list_reduce(list_prepend(0::BIGINT,
              list_transform(generate_series(1, {DIM}),
                  i -> q.ql[i] * e.ql[i])), (a, x) -> a + x) AS DOUBLE))
           / (q.nrm * e.nrm) AS qcos
  FROM qz e JOIN qz q ON q.vec_id < {N_QUERIES} AND e.vec_id <> q.vec_id
)
SELECT q_id, vec_id, rank, qcos FROM (
  SELECT q_id, vec_id, qcos,
         row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, vec_id)
           AS rank
  FROM scored
) t WHERE rank <= {TOP_K}
"""


# --------------------------------------- matryoshka truncation audit --

MRL_DIM = 16  # prefix dims retained (DIM // 4)


def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit: for each query vector, the top-1
    cosine neighbor under the FULL embedding vs under the first
    MRL_DIM dims only — the measurement that decides whether a
    prefix-truncated (matryoshka) index can serve retrieval at 1/4 the
    storage and FLOPs. Emits both neighbors, both scores, and the
    agreement flag per query.

    Brute-force tier by design (|Q| broadcast against one scan, the
    same shape as ``sim_topk_cosine``); the truncated variant is the
    one that would graduate to the IVF/SRP tiers at scale. Argmax is
    a max-by-struct aggregate — no per-query window, ties broken to
    the smaller vec_id exactly like the rank-based oracles.

    Zero-norm vectors are excluded through :func:`_with_norm` (the
    tier's standard pre-index step) on BOTH the query and candidate
    sides: the FULL cosine here is unguarded by design (it is the
    reference score), and a zero vector's 0/0 is an ANSI task kill in
    Spark vs NULL in DuckDB (round-11 EMBADV attestation). The oracle
    carries the same exclusion via ``_NORM2_SQL > 0``.
    """
    em = _with_norm(load_embeddings(spark, sf_dir), "embedding", "nrm").select(
        "vec_id", "embedding"
    )
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    pairs = em.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
    cos_full = _cosine(F.col("q_emb"), F.col("embedding"))
    # the corpus-level zero-vector exclusion (_with_norm) guards FULL
    # norms only — a nonzero vector can still have an all-zero first
    # MRL_DIM prefix, and an unguarded divide is an ANSI task kill in
    # Spark vs NULL in DuckDB. Both engines define the zero-prefix
    # cosine as 0.0 (no direction → no similarity) so the top-1 ranks
    # stay comparable.
    qa = F.transform(
        F.slice(F.col("q_emb"), 1, MRL_DIM), lambda x: x.cast("double")
    )
    ea = F.transform(
        F.slice(F.col("embedding"), 1, MRL_DIM), lambda x: x.cast("double")
    )
    t_dot = _fold_sum(F.zip_with(qa, ea, lambda x, y: x * y))
    t_nq = _fold_sum(F.transform(qa, lambda x: x * x))
    t_ne = _fold_sum(F.transform(ea, lambda x: x * x))
    cos_trunc = F.when(
        (t_nq > 0) & (t_ne > 0), t_dot / (F.sqrt(t_nq) * F.sqrt(t_ne))
    ).otherwise(F.lit(0.0))
    scored = pairs.select(
        "q_id",
        "vec_id",
        cos_full.alias("cf"),
        cos_trunc.alias("ct"),
    )
    best = scored.groupBy("q_id").agg(
        F.max(F.struct(F.col("cf"), (-F.col("vec_id")).alias("nv"))).alias("bf"),
        F.max(F.struct(F.col("ct"), (-F.col("vec_id")).alias("nv"))).alias("bt"),
    )
    return best.select(
        "q_id",
        (-F.col("bf.nv")).alias("top1_full"),
        F.col("bf.cf").alias("cos_full"),
        (-F.col("bt.nv")).alias("top1_trunc"),
        F.col("bt.ct").alias("cos_trunc"),
        (F.col("bf.nv") == F.col("bt.nv")).alias("agree"),
    )


_TRUNC_NQ_SQL = f"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, {MRL_DIM}),
       i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))),
       (a, x) -> a + x)"""
_TRUNC_NE_SQL = _TRUNC_NQ_SQL.replace("q.embedding", "e.embedding")
# zero-prefix guard mirrors the Spark side: cosine of an all-zero
# MRL_DIM prefix is DEFINED as 0.0 in both engines
_COS_TRUNC_SQL = (
    f"CASE WHEN {_TRUNC_NQ_SQL} > 0 AND {_TRUNC_NE_SQL} > 0 THEN "
    + _COS_SQL.replace(
        f"generate_series(1, {DIM})", f"generate_series(1, {MRL_DIM})"
    )
    + " ELSE 0.0 END"
)

MATRYOSHKA_SQL = f"""
WITH nz AS (SELECT * FROM embeddings WHERE {_NORM2_SQL} > 0),
q AS (SELECT vec_id AS q_id, embedding FROM nz WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.q_id, e.vec_id,
         {_COS_SQL} AS cf,
         {_COS_TRUNC_SQL} AS ct
  FROM nz e JOIN q ON e.vec_id <> q.q_id
),
rf AS (
  SELECT q_id, vec_id AS top1_full, cf AS cos_full,
         row_number() OVER (PARTITION BY q_id ORDER BY cf DESC, vec_id) AS rn
  FROM scored
),
rt AS (
  SELECT q_id, vec_id AS top1_trunc, ct AS cos_trunc,
         row_number() OVER (PARTITION BY q_id ORDER BY ct DESC, vec_id) AS rn
  FROM scored
)
SELECT rf.q_id, rf.top1_full, rf.cos_full, rt.top1_trunc, rt.cos_trunc,
       rf.top1_full = rt.top1_trunc AS agree
FROM rf JOIN rt ON rf.q_id = rt.q_id AND rf.rn = 1 AND rt.rn = 1
WHERE rf.rn = 1 AND rt.rn = 1
"""


# --------------------------------------------- product quantization --

PQ_M = 4                    # subspaces
PQ_SUBDIM = DIM // PQ_M     # dims per subspace (16)
PQ_K = 8                    # codebook entries per subspace
PQ_ITERS = 2


def _pq_assign_all(
    spark: SparkSession, em: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Exact-integer k-means (the ``sim_kmeans_exact_cells`` algebra:
    quantized int64 coordinates, int64 distances, floor(sum/count)
    centroid updates, ties to the lowest cell) over ALL PQ_M subspace
    slices in lockstep: one (m, vec_id, v) table replaces PQ_M
    sequential training chains, so each k-means round is ONE Spark
    job and each centroid refresh ONE bounded collect of PQ_M×PQ_K
    rows (was PQ_M separate collects — at driver-fixture scale the
    job-scheduling overhead, not the math, dominated the old form).
    Per-subspace arithmetic is unchanged, so results are identical.

    Returns (assigned, cent): assigned = (m, vec_id, cell, d2) under
    the FINAL assignment; cent = the final literal codebook
    (m, cell, c) that assignment used.
    """
    subs = em.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(
                            "v", m * PQ_SUBDIM + 1, PQ_SUBDIM
                        ).alias("v"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.v").alias("v"))
    # seed: the first PQ_K vec_ids' slices, cell numbered in vec_id
    # order within each subspace (identical to the per-subspace form)
    seed_sel = Window.partitionBy("m").orderBy("vec_id")
    cent = (
        subs.withColumn("cell", F.row_number().over(seed_sel))
        .filter(F.col("cell") <= PQ_K)
        .select("m", "cell", F.col("v").alias("c"))
    )
    dist = F.aggregate(
        F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    assigned = None
    for it in range(PQ_ITERS):
        assigned = (
            subs.join(F.broadcast(cent), "m")
            .select("m", "vec_id", "v", "cell", dist.alias("d2"))
            .groupBy("m", "vec_id")
            .agg(F.min(F.struct("d2", "cell", "v")).alias("mn"))
            .select(
                "m",
                "vec_id",
                F.col("mn.cell").alias("cell"),
                F.col("mn.d2").alias("d2"),
                F.col("mn.v").alias("v"),
            )
        )
        if it == PQ_ITERS - 1:
            break
        dims = assigned.select(
            "m", "cell", F.posexplode("v").alias("dim", "x")
        )
        cur = (
            dims.groupBy("m", "cell", "dim")
            .agg(
                F.floor(
                    F.sum("x").cast("double") / F.count("*").cast("double")
                )
                .cast("long")
                .alias("cx")
            )
            .groupBy("m", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cx"))),
                    lambda s: s.cx,
                ).alias("c")
            )
        )
        cent = spark.createDataFrame(
            cur.collect(), schema="m int, cell int, c array<long>"
        )
    return assigned.select("m", "vec_id", "cell", "d2"), cent


def emb_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the vector-compression tier between
    scalar int8 (``emb_quantize_int8``) and raw floats: the embedding
    splits into PQ_M subspaces, each learns a PQ_K-entry codebook by
    k-means, and every vector compresses to PQ_M one-byte codes
    (64 floats → 4 bytes here). Emits each vector's code word plus the
    per-subspace and total squared reconstruction error — the quantity
    that decides codebook size at index-build time.

    Fully VALUE-oracled despite being iterative: the same exact-
    integer k-means trick as ``sim_kmeans_exact_cells`` (every round
    is associative integer arithmetic), so DuckDB unrolls all
    PQ_M × PQ_ITERS rounds as CTEs and agrees bit-for-bit.

    Scale: training touches |rows| × PQ_M sub-vectors per round with a
    broadcast K×SUBDIM model (map-side assign, one partial/final agg
    per update); encoding is one map pass; ADC search against the
    codes is a PQ_M-term lookup-table sum — never a float dot product
    against raw vectors.
    """
    em = load_embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * KMEANS_QSCALE + F.lit(0.5)
            ).cast("long"),
        ).alias("v"),
    )
    em = em.cache()
    try:
        assigned, _ = _pq_assign_all(spark, em)
        # one pivot aggregate replaces the old PQ_M-way self-join
        out = (
            assigned.groupBy("vec_id")
            .agg(
                *[
                    F.max(
                        F.when(F.col("m") == m, F.col("cell"))
                    ).alias(f"code{m}")
                    for m in range(PQ_M)
                ],
                *[
                    F.max(
                        F.when(F.col("m") == m, F.col("d2"))
                    ).alias(f"d2_{m}")
                    for m in range(PQ_M)
                ],
            )
            .select(
                "vec_id",
                *[F.col(f"code{m}") for m in range(PQ_M)],
                *[F.col(f"d2_{m}") for m in range(PQ_M)],
                sum(F.col(f"d2_{m}") for m in range(PQ_M)).alias(
                    "total_d2"
                ),
            )
            .localCheckpoint()
        )
    finally:
        em.unpersist()
    return out


def _pq_sql() -> str:
    q = KMEANS_QSCALE
    sql = f"""
WITH qv AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {q} + 0.5) AS BIGINT) AS x
  FROM embeddings
),
seed AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS cell
  FROM (SELECT DISTINCT vec_id FROM qv ORDER BY vec_id LIMIT {PQ_K})
)"""
    finals = []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM, (m + 1) * PQ_SUBDIM
        sql += f""",
qv{m} AS (
  SELECT vec_id, dim, x FROM qv WHERE dim > {lo} AND dim <= {hi}
),
s{m}c0 AS (
  SELECT seed.cell, qv{m}.dim, qv{m}.x AS cx
  FROM seed JOIN qv{m} USING (vec_id)
)"""
        prev = f"s{m}c0"
        for r in range(1, PQ_ITERS + 1):
            sql += f""",
s{m}d{r} AS (
  SELECT qv{m}.vec_id, {prev}.cell,
         CAST(SUM((qv{m}.x - {prev}.cx) * (qv{m}.x - {prev}.cx)) AS BIGINT) AS d2
  FROM qv{m} JOIN {prev} USING (dim) GROUP BY 1, 2
),
s{m}a{r} AS (
  SELECT vec_id, cell, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM s{m}d{r}
  ) t WHERE rn = 1
)"""
            if r < PQ_ITERS:
                sql += f""",
s{m}c{r} AS (
  SELECT s{m}a{r}.cell, qv{m}.dim,
         CAST(floor(CAST(CAST(SUM(qv{m}.x) AS BIGINT) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cx
  FROM s{m}a{r} JOIN qv{m} USING (vec_id) GROUP BY 1, 2
)"""
                prev = f"s{m}c{r}"
        finals.append(f"s{m}a{PQ_ITERS}")
    code_cols = ", ".join(
        f"CAST({finals[m]}.cell AS INT) AS code{m}" for m in range(PQ_M)
    )
    d2_cols = ", ".join(f"{finals[m]}.d2 AS d2_{m}" for m in range(PQ_M))
    total = " + ".join(f"{finals[m]}.d2" for m in range(PQ_M))
    joins = finals[0]
    for f_ in finals[1:]:
        joins += f" JOIN {f_} USING (vec_id)"
    sql += f"""
SELECT vec_id, {code_cols}, {d2_cols},
       CAST({total} AS BIGINT) AS total_d2
FROM {joins}
"""
    return sql


EMB_PQ_SQL = _pq_sql()


PQ_ADC_TOPK = 3


def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving path — asymmetric distance computation (ADC): each
    query keeps full precision, every candidate is ONLY its PQ_M code
    bytes, and the estimated distance is a sum of PQ_M lookup-table
    entries d2(query_sub, codebook[code]). Top-PQ_ADC_TOPK per query,
    ties to the smaller vec_id. This is how a 100 TB vector index
    actually answers queries: the raw vectors never leave the
    index-build job; serving scans 4-byte codes plus a K×PQ_M LUT per
    query.

    Entirely integer arithmetic (quantized queries, integer codebooks
    from the exact k-means), so like ``emb_pq_codebook`` this
    APPROXIMATE search is value-oracled bit-for-bit — DuckDB rebuilds
    the codebooks via the unrolled CTEs and sums the same LUTs.

    Plan shape: per subspace, the LUT is |Q|×PQ_K rows (broadcast);
    codes join the LUT map-side; one final (q_id, vec_id) aggregate
    sums the PQ_M terms; TakeOrderedAndProject-style ranking per
    query. No full-vector math anywhere after index build.
    """
    em = load_embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * KMEANS_QSCALE + F.lit(0.5)
            ).cast("long"),
        ).alias("v"),
    )
    em = em.cache()
    try:
        dist = F.aggregate(
            F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        codes, cent = _pq_assign_all(spark, em)
        # per-(m, query) LUT rows against the literal codebook —
        # |Q|·PQ_M·PQ_K rows, broadcastable by construction
        q_subs = (
            em.filter(F.col("vec_id") < N_QUERIES)
            .select(
                F.col("vec_id").alias("q_id"),
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(m).alias("m"),
                                F.slice(
                                    "v", m * PQ_SUBDIM + 1, PQ_SUBDIM
                                ).alias("v"),
                            )
                            for m in range(PQ_M)
                        ]
                    )
                ).alias("s"),
            )
            .select("q_id", F.col("s.m").alias("m"), F.col("s.v").alias("v"))
        )
        lut = q_subs.join(F.broadcast(cent), "m").select(
            "m", "q_id", "cell", dist.alias("d2q")
        )
        # codes join the LUT map-side; ONE partial/final aggregate
        # sums the PQ_M terms (was a PQ_M-way shuffle self-join)
        adc = (
            codes.join(F.broadcast(lut), ["m", "cell"])
            .groupBy("q_id", "vec_id")
            .agg(F.sum("d2q").alias("adc_d2"))
            .filter(F.col("q_id") != F.col("vec_id"))
        )
        w = Window.partitionBy("q_id").orderBy("adc_d2", "vec_id")
        out = (
            adc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= PQ_ADC_TOPK)
            .select("q_id", "vec_id", "rank", "adc_d2")
            .localCheckpoint()
        )
    finally:
        em.unpersist()
    return out


def _pq_adc_sql() -> str:
    """Extends the PQ CTE chain: rebuild each subspace's FINAL codebook
    (the centroids the last assignment used), build per-query LUTs,
    join codes, sum, rank."""
    base = _pq_sql()
    # strip the final SELECT — reuse the CTE chain
    head = base[: base.rindex("SELECT vec_id,")]
    luts, joins = [], []
    for m in range(PQ_M):
        # final codebook CTE name: s{m}c{PQ_ITERS-1} (or s{m}c0 if 1 iter)
        cb = f"s{m}c{PQ_ITERS - 1}"
        luts.append(
            f"""lut{m} AS (
  SELECT q.vec_id AS q_id, {cb}.cell,
         CAST(SUM((q.x - {cb}.cx) * (q.x - {cb}.cx)) AS BIGINT) AS d2q
  FROM qv{m} q JOIN {cb} USING (dim)
  WHERE q.vec_id < {N_QUERIES}
  GROUP BY 1, 2
),
term{m} AS (
  SELECT l.q_id, a.vec_id, l.d2q AS t{m}
  FROM s{m}a{PQ_ITERS} a JOIN lut{m} l ON a.cell = l.cell
)"""
        )
        joins.append(f"term{m}")
    join_chain = joins[0]
    for t in joins[1:]:
        join_chain += f" JOIN {t} USING (q_id, vec_id)"
    total = " + ".join(f"t{m}" for m in range(PQ_M))
    return (
        head
        + ",\n"
        + ",\n".join(luts)
        + f"""
SELECT q_id, vec_id, rank, adc_d2 FROM (
  SELECT q_id, vec_id,
         CAST({total} AS BIGINT) AS adc_d2,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY {total}, vec_id) AS rank
  FROM {join_chain}
  WHERE q_id <> vec_id
) WHERE rank <= {PQ_ADC_TOPK}
"""
    )


SIM_PQ_ADC_SQL = _pq_adc_sql()


# ------------------------------------------------ power-iteration PCA --

PCA_ITERS = 60         # flat random spectra (lam1/lam2 ~ 1.01) need this
PCA_Q = 1_000          # component quantization (milli-units)
PCA_V = 1_000_000      # eigenvector scale between iterations


def _sgn_div(num: str, den: str) -> str:
    """Sign-split integer division that both engines evaluate
    identically. Defensive convention: DuckDB 1.0's ``//`` was
    measured to TRUNCATE like Spark's DIV (``-7 // 2 = -3``), so the
    engines already agree on negatives — the split keeps the
    expression portable to engines/versions where ``//`` floors, at
    zero cost on non-negative numerators."""
    return (
        f"CASE WHEN {num} >= 0 THEN ({num}) DIV ({den})"
        f" ELSE -((-({num})) DIV ({den})) END"
    )


def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud by POWER
    ITERATION on the centered Gram matrix — distributed linear algebra
    as dataframes, the same iterate-as-join pattern as
    ``graph_pagerank_exact``, and like it fully VALUE-oracled because
    every step is associative integer arithmetic: components quantize
    to milli-units, the 64x64 covariance accumulates exact int64
    products, and each iteration renormalizes with sign-split integer
    division (max-abs to ~PCA_V), so a fixed 3 rounds is
    bit-reproducible on any engine. Float PCA could only ever be
    rows-only checked; this is the portable formulation.

    Overflow headroom is designed, not hoped: |x_c| <= ~1.1·PCA_Q, so
    A entries are <= rows·1.2e6 (~6e9 at 5e3 rows, 6e11 at 100x) and
    the matvec adds a PCA_V factor plus a 64-way sum — peaking ~4e17
    at 100x data, under int64's 9.2e18.

    Scale: the Gram build is the only row-proportional stage — a
    per-vector 64x64 outer-product explode, partial-aggregated map-
    side into at most 4096 groups (classic X^T·X as groupBy). The
    iterations then run DRIVER-SIDE on the collected 64x64 matrix in
    exact Python integers — model state is O(d²), not data-
    proportional, the same collect-the-model discipline as the
    k-means centroid loop; PCA_ITERS=60 because the synthetic cloud's
    spectrum is flat (lam1/lam2 ≈ 1.01 measured at sf0.01 — power
    iteration needs ~1/log(ratio) rounds) and 60 tiny matvecs on the
    driver cost microseconds where 60 chained dataframe joins would
    cost 60 plan analyses.
    """
    em = load_embeddings(spark, sf_dir)
    qv = em.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * PCA_Q + F.lit(0.5))
        .cast("long")
        .alias("xq"),
    )
    means = qv.groupBy("dim").agg(
        F.sum("xq").alias("s"), F.count("*").alias("n")
    ).select("dim", F.expr(_sgn_div("s", "n")).alias("mu"))
    xc = qv.join(F.broadcast(means), "dim").select(
        "vec_id", "dim", (F.col("xq") - F.col("mu")).alias("xc")
    )
    a = xc.select("vec_id", F.col("dim").alias("i"), F.col("xc").alias("xi"))
    b = xc.select("vec_id", F.col("dim").alias("j"), F.col("xc").alias("xj"))
    A = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("xi") * F.col("xj")).alias("a_ij"))
    )
    # O(d^2) model collect; every arithmetic step below is exact int
    # (Python ints are a superset of the oracle's BIGINT range here —
    # matvec magnitudes stay ~1e13, measured)
    amat: dict[tuple[int, int], int] = {
        (r["i"], r["j"]): r["a_ij"] for r in A.collect()
    }
    dims = sorted({i for i, _ in amat})
    if not dims:
        # empty embedding table: no Gram matrix, no direction — mirror
        # the oracle's empty result instead of max() over nothing
        # (empty-corpus sweep, round 7)
        return spark.createDataFrame(
            [], "dim int, v_scaled long, loading double"
        )
    v = {d: PCA_V for d in dims}
    for _ in range(PCA_ITERS):
        u = {
            i: sum(amat[(i, j)] * v[j] for j in dims) for i in dims
        }
        m = max(abs(x) for x in u.values())
        den = (m // PCA_V) + 1
        v = {
            i: (x // den if x >= 0 else -((-x) // den))
            for i, x in u.items()
        }
    out = spark.createDataFrame(
        [(d, v[d]) for d in dims], "dim int, v_scaled long"
    )
    return out.select(
        "dim",
        "v_scaled",
        (F.col("v_scaled").cast("double") / PCA_V).alias("loading"),
    )


def _pca_sql() -> str:
    # Every CTE is MATERIALIZED: u_k/v_k are each referenced twice, so
    # DuckDB's default inlining would re-expand the chain exponentially
    # (2^ITERS scans of the base table — observed as an fd exhaustion).
    parts = [
        f"""
WITH qv AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {PCA_Q} + 0.5)
              AS BIGINT) AS xq
  FROM embeddings
),
means AS MATERIALIZED (
  SELECT dim, {_sgn_div('SUM(xq)', 'COUNT(*)').replace('DIV', '//')} AS mu
  FROM qv GROUP BY 1
),
xc AS MATERIALIZED (
  SELECT qv.vec_id, qv.dim, qv.xq - means.mu AS xc
  FROM qv JOIN means USING (dim)
),
A AS MATERIALIZED (
  SELECT a.dim AS i, b.dim AS j, CAST(SUM(a.xc * b.xc) AS BIGINT) AS a_ij
  FROM xc a JOIN xc b ON a.vec_id = b.vec_id GROUP BY 1, 2
),
v0 AS MATERIALIZED (SELECT dim, CAST({PCA_V} AS BIGINT) AS v FROM means)"""
    ]
    for k in range(1, PCA_ITERS + 1):
        den = f"(m // {PCA_V}) + 1"
        norm = (
            f"CASE WHEN u >= 0 THEN (u) // ({den})"
            f" ELSE -((-(u)) // ({den})) END"
        )
        parts.append(
            f""",
u{k} AS MATERIALIZED (
  SELECT A.i AS dim, CAST(SUM(A.a_ij * v.v) AS BIGINT) AS u
  FROM A JOIN v{k - 1} v ON A.j = v.dim GROUP BY 1
),
m{k} AS MATERIALIZED (SELECT MAX(abs(u)) AS m FROM u{k}),
v{k} AS MATERIALIZED (
  SELECT dim, CAST({norm} AS BIGINT) AS v FROM u{k}, m{k})"""
        )
    parts.append(
        f"""
SELECT dim, v AS v_scaled, CAST(v AS DOUBLE) / {PCA_V} AS loading
FROM v{PCA_ITERS}"""
    )
    return "".join(parts)


EMB_PCA_SQL = _pca_sql()


# ------------------------------------------------ mutual kNN graph --

KNN_K = 5


def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-nearest-neighbor graph over the embedding table: an
    edge (u, v) survives when each vector ranks in the other's cosine
    top-5 — the standard graph-construction step before
    graph-clustering a corpus (mutual-kNN prunes the hub vectors that
    plain kNN wires to everything).

    Exactness: cosine via the shared left-fold helpers (`_fold_sum`)
    so both engines add in the same IEEE order; the mutual test and
    ranks are integers. Symmetric by construction (x·y folds the same
    forwards as y·x), so one score per unordered pair is emitted.

    Scale: brute-force all-pairs at fixture scale (the exact
    baseline); the 100 TB path swaps the candidate generator for the
    SRP-LSH bucket join (``sim_srp_topk``) and keeps THIS mutual-rank
    filter unchanged on the candidate set. One broadcast of the
    smaller side, top-k via per-src window on |N|·k survivors.
    """
    em = _with_norm(
        load_embeddings(spark, sf_dir), "embedding", "nrm"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb_d"),
        "nrm",
    )
    other = em.select(
        F.col("vec_id").alias("o_id"),
        F.col("emb_d").alias("o_emb_d"),
        F.col("nrm").alias("o_nrm"),
    )
    pairs = em.join(F.broadcast(other), F.col("vec_id") != F.col("o_id"))
    dot = _fold_sum(F.zip_with("emb_d", "o_emb_d", lambda x, y: x * y))
    scored = pairs.select(
        "vec_id",
        "o_id",
        (dot / (F.col("nrm") * F.col("o_nrm"))).alias("cos_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("o_id")
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= KNN_K
    )
    fwd = topk.filter(F.col("vec_id") < F.col("o_id")).select(
        F.col("vec_id").alias("u"),
        F.col("o_id").alias("v"),
        "cos_sim",
        F.col("rank").alias("rank_uv"),
    )
    bwd = topk.filter(F.col("vec_id") > F.col("o_id")).select(
        F.col("o_id").alias("u"),
        F.col("vec_id").alias("v"),
        F.col("rank").alias("rank_vu"),
    )
    return fwd.join(bwd, ["u", "v"]).select(
        "u", "v", "cos_sim", "rank_uv", "rank_vu"
    )


EMB_KNN_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS vec_id, e.vec_id AS o_id, {_COS_SQL} AS cos_sim
  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
),
topk AS (
  SELECT vec_id, o_id, cos_sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, o_id) AS rank
  FROM scored
  QUALIFY rank <= {KNN_K}
),
fwd AS (
  SELECT vec_id AS u, o_id AS v, cos_sim, rank AS rank_uv
  FROM topk WHERE vec_id < o_id
),
bwd AS (
  SELECT o_id AS u, vec_id AS v, rank AS rank_vu
  FROM topk WHERE vec_id > o_id
)
SELECT u, v, cos_sim, CAST(rank_uv AS BIGINT) AS rank_uv,
       CAST(rank_vu AS BIGINT) AS rank_vu
FROM fwd JOIN bwd USING (u, v)
"""


# ------------------------------------- SRP-banded mutual kNN graph --

#: The kNN graph needs higher recall than the 8-query ANN op: every
#: vector is a query. 32 planes in 8 bands of 4 bits OR-amplify to
#: ~2x the candidate coverage of the 4-band tier at the same bucket
#: granularity; signatures stay one map-only scan (32 fold-dots).
KNNG_PLANES = 32
KNNG_BANDS = 8
#: Band width derived from THIS tier's plane count — never reuse the
#: ANN tier's SRP_BAND_BITS/_SRP_MASK, which only coincidentally
#: match today and would silently corrupt the band extraction if the
#: ANN tier were retuned.
KNNG_BAND_BITS = KNNG_PLANES // KNNG_BANDS
_KNNG_MASK = (1 << KNNG_BAND_BITS) - 1
assert KNNG_BANDS * KNNG_BAND_BITS == KNNG_PLANES
_KNNG_SRP = _srp_signs(KNNG_PLANES)

#: Per-bucket candidate budget. Each (band, bucket) contributes pair
#: work from at most this many members — the members kept are a
#: deterministic portable-hash-ordered sample, so a hot bucket
#: DEGRADES (recall from that band decays toward a uniform sample)
#: instead of being dropped outright. Whole-bucket quarantine (the
#: ``dedup_minhash_lsh`` move) is wrong here: with only
#: 2^KNNG_BAND_BITS = 16 bucket values per band, average bucket size
#: grows as |N|/16, so beyond ~4k vectors EVERY bucket would trip the
#: cap and the graph would silently collapse to empty — at exactly
#: the scale a "scale-safe" op exists for. Minhash buckets live in a
#: ~2^64 key space where a hot bucket is an anomaly to drop; 4-bit
#: SRP buckets are a partition of the corpus where hot is normal.
#: (Measured: at the 10x replica, 20k vectors, the old quarantine
#: kept 0 of 128 buckets — an empty graph; the sample keeps 28k
#: edges.) Never binds at driver fixture scale: max bucket 56 of 500
#: vecs at sf0.01, 196 of 2000 at sf0.1 — outputs there are
#: bit-identical to the uncapped census.
KNNG_BUCKET_CAP = 256


def emb_knn_srp_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual kNN graph via SRP-LSH candidate generation — the
    scale-safe form of :func:`emb_knn_graph` (VERDICT r6 item 4;
    oracle-ready in the library, registered in the round-8 front):
    identical mutual-top-5 semantics, but the pair universe
    is band-bucket cohabitants instead of the exact N² census.

    Plan shape (the 100 TB story): one map-only signature scan, a
    banded SELF-join on (band, bucket) where each bucket contributes
    at most ``KNNG_BUCKET_CAP`` hash-sampled members (bounded pair
    work per bucket, graceful recall decay — NOT whole-bucket
    quarantine, which would empty the graph once buckets outgrow the
    cap; see the constant's comment), exact fold-cosine re-rank on
    the surviving pairs, then the same mutual-rank filter as the
    exact twin. Nothing is ever all-pairs; every stage is bounded by
    |buckets|·CAP². The exact twin stays as the recall oracle
    (``tests/test_similarity.py`` asserts edge recall vs it).

    Ranks are positions within the CANDIDATE neighborhood, so an edge
    (u, v) here means "mutually top-5 among LSH candidates" — the
    graph a production pipeline would actually build at scale.
    """
    em = _with_norm(
        load_embeddings(spark, sf_dir), "embedding", "nrm"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb_d"),
        "nrm",
    )
    sigs = em.select(
        "vec_id", _srp_sig(F.col("emb_d"), planes=_KNNG_SRP).alias("sig")
    )
    bands = (
        sigs.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftright("sig", b * KNNG_BAND_BITS)
                            .bitwiseAND(F.lit(_KNNG_MASK))
                            .alias("bv"),
                        )
                        for b in range(KNNG_BANDS)
                    ]
                )
            ).alias("bb"),
        )
        .select("vec_id", "bb.band", "bb.bv")
        .localCheckpoint(eager=False)
    )
    from ..functions.hashing import hash64

    sel = Window.partitionBy("band", "bv").orderBy(
        hash64(F.concat_ws(":", F.col("band"), F.col("bv"), F.col("vec_id"))),
        F.col("vec_id"),
    )
    kept = (
        bands.withColumn("r", F.row_number().over(sel))
        .filter(F.col("r") <= KNNG_BUCKET_CAP)
        .drop("r")
    )
    left = kept.select(F.col("vec_id").alias("a_id"), "band", "bv")
    right = kept.select(F.col("vec_id").alias("b_id"), "band", "bv")
    cpairs = (
        left.join(right, ["band", "bv"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    ea = em.select(
        F.col("vec_id").alias("a_id"),
        F.col("emb_d").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    eb = em.select(
        F.col("vec_id").alias("b_id"),
        F.col("emb_d").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    dot = _fold_sum(F.zip_with("a_emb", "b_emb", lambda x, y: x * y))
    scored = (
        cpairs.join(ea, "a_id")
        .join(eb, "b_id")
        .select(
            "a_id",
            "b_id",
            (dot / (F.col("a_nrm") * F.col("b_nrm"))).alias("cos_sim"),
        )
    )
    both = scored.select(
        F.col("a_id").alias("vec_id"), F.col("b_id").alias("o_id"), "cos_sim"
    ).unionByName(
        scored.select(
            F.col("b_id").alias("vec_id"), F.col("a_id").alias("o_id"), "cos_sim"
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("o_id")
    )
    topk = both.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= KNN_K
    )
    fwd = topk.filter(F.col("vec_id") < F.col("o_id")).select(
        F.col("vec_id").alias("u"),
        F.col("o_id").alias("v"),
        "cos_sim",
        F.col("rank").alias("rank_uv"),
    )
    bwd = topk.filter(F.col("vec_id") > F.col("o_id")).select(
        F.col("o_id").alias("u"),
        F.col("vec_id").alias("v"),
        F.col("rank").alias("rank_vu"),
    )
    return fwd.join(bwd, ["u", "v"]).select(
        "u", "v", "cos_sim", "rank_uv", "rank_vu"
    )


_COS_AB_SQL = _COS_SQL  # aliases q (a-side) and e (b-side)

_KNNG_SQL_PLANES = ", ".join(
    f"({p}, [{', '.join(repr(v) for v in _KNNG_SRP[p])}])"
    for p in range(KNNG_PLANES)
)
_KNNG_SQL_BANDS = ", ".join(f"({b})" for b in range(KNNG_BANDS))

from ..functions.hashing import hash64_sql as _h64sql  # noqa: E402

#: same keep-sample key both engines order by: hash64("band:bv:vec")
_KNNG_KEEP_HASH_SQL = _h64sql(
    "CAST(b AS VARCHAR) || ':' || CAST(bv AS VARCHAR)"
    " || ':' || CAST(vec_id AS VARCHAR)"
)

EMB_KNN_SRP_SQL = f"""
WITH planes(p, sgn) AS (VALUES {_KNNG_SQL_PLANES}),
emb AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d
        FROM embeddings),
dots AS (
  SELECT e.vec_id, pl.p,
         list_reduce(list_prepend(0.0, list_transform(generate_series(1, {DIM}),
             i -> e.emb_d[i] * pl.sgn[i])), (a, x) -> a + x) AS dot
  FROM emb e CROSS JOIN planes pl
),
sigs AS (
  SELECT vec_id,
         SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS sig
  FROM dots GROUP BY 1
),
bands AS (
  SELECT vec_id, b.b,
         (sig >> (b.b * {KNNG_BAND_BITS})) & {_KNNG_MASK} AS bv
  FROM sigs CROSS JOIN (VALUES {_KNNG_SQL_BANDS}) b(b)
),
kept AS (
  SELECT vec_id, b, bv FROM (
    SELECT vec_id, b, bv,
           row_number() OVER (
             PARTITION BY b, bv
             ORDER BY {_KNNG_KEEP_HASH_SQL}, vec_id) AS r
    FROM bands
  ) WHERE r <= {KNNG_BUCKET_CAP}
),
cpairs AS (
  SELECT DISTINCT l.vec_id AS a_id, r.vec_id AS b_id
  FROM kept l JOIN kept r ON l.b = r.b AND l.bv = r.bv
                          AND l.vec_id < r.vec_id
),
scored AS (
  SELECT cp.a_id, cp.b_id, {_COS_AB_SQL} AS cos_sim
  FROM cpairs cp
  JOIN embeddings q ON q.vec_id = cp.a_id
  JOIN embeddings e ON e.vec_id = cp.b_id
),
dirs AS (
  SELECT a_id AS vec_id, b_id AS o_id, cos_sim FROM scored
  UNION ALL
  SELECT b_id, a_id, cos_sim FROM scored
),
topk AS (
  SELECT vec_id, o_id, cos_sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, o_id) AS rank
  FROM dirs
  QUALIFY rank <= {KNN_K}
),
fwd AS (
  SELECT vec_id AS u, o_id AS v, cos_sim, rank AS rank_uv
  FROM topk WHERE vec_id < o_id
),
bwd AS (
  SELECT o_id AS u, vec_id AS v, rank AS rank_vu
  FROM topk WHERE vec_id > o_id
)
SELECT u, v, cos_sim, CAST(rank_uv AS BIGINT) AS rank_uv,
       CAST(rank_vu AS BIGINT) AS rank_vu
FROM fwd JOIN bwd USING (u, v)
"""


# ------------------------------------------------ class centroids --

CENTROID_Q = 1_000_000


def emb_class_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class centroids in exact fixed-point: each embedding
    dimension is quantized to integer micro-units (float32 → double
    is an exact widening, round(x·1e6) is one deterministic float op)
    and the centroid is the integer mean per (label, dim) — the class
    prototypes behind nearest-centroid classification and per-class
    recall audits, emitted as (label, dim) rows rather than an array
    column so the result is hash-comparable.

    Scale: one explode to |rows|·64 (dim, q) pairs, one partial/final
    aggregate keyed (label, dim) — map-side combine absorbs the
    explode; output is |labels|·64 rows. Integer sums overflow at
    ~9e12 rows/label·1e6-magnitude — the DECIMAL(38) widening of
    ``streaming/state.py`` applies beyond that.
    """
    em = load_embeddings(spark, sf_dir).select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    q = em.select(
        "label",
        "dim",
        F.round(F.col("x").cast("double") * CENTROID_Q).cast("long").alias("q"),
    )
    return (
        q.groupBy("label", "dim")
        .agg(F.count("*").alias("n_vecs"), F.sum("q").alias("sum_q"))
        .select(
            "label",
            "dim",
            "n_vecs",
            "sum_q",
            F.expr(
                "CASE WHEN sum_q >= 0 THEN sum_q DIV n_vecs"
                " ELSE -((-sum_q) DIV n_vecs) END"
            ).alias("centroid_q"),
        )
    )


EMB_CENTROID_SQL = f"""
WITH q AS (
  SELECT label, dim - 1 AS dim,
         CAST(round(CAST(x AS DOUBLE) * {CENTROID_Q}) AS BIGINT) AS q
  FROM (
    SELECT label, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS dim
    FROM embeddings
  )
)
SELECT CAST(label AS INTEGER) AS label, CAST(dim AS INTEGER) AS dim,
       COUNT(*) AS n_vecs, CAST(SUM(q) AS BIGINT) AS sum_q,
       CAST(CASE WHEN SUM(q) >= 0 THEN CAST(SUM(q) AS BIGINT) // COUNT(*)
                 ELSE -((-CAST(SUM(q) AS BIGINT)) // COUNT(*)) END AS BIGINT)
         AS centroid_q
FROM q GROUP BY 1, 2
"""


OUTLIER_TOPK = 5


def emb_class_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen: each label's 5 farthest members from the
    class centroid by exact quantized squared distance — the
    mislabeled-embedding audit that pairs with
    ``emb_class_centroids`` (a vector far from its own prototype is
    either an outlier or mis-tagged; both belong in review).

    EXACT end-to-end: vectors and centroids live in the same integer
    micro-units, dist² = Σ(q−c)² is int64-safe (64·(2e6)² ≈ 2.6e14),
    ranking ties break on vec_id.

    Scale: the centroid table (|labels|·64 rows) broadcasts onto the
    exploded vector table; one hash-agg per vec_id re-folds dist² —
    the same explode the centroid build already paid, nothing
    quadratic.
    """
    cen = emb_class_centroids(spark, sf_dir).select(
        "label", "dim", "centroid_q"
    )
    q = load_embeddings(spark, sf_dir).select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("x").cast("double") * CENTROID_Q).cast("long").alias("q"),
    )
    d2 = (
        q.join(F.broadcast(cen), ["label", "dim"])
        .select(
            "vec_id", "label",
            ((F.col("q") - F.col("centroid_q"))
             * (F.col("q") - F.col("centroid_q"))).alias("dd"),
        )
        .groupBy("label", "vec_id")
        .agg(F.sum("dd").alias("dist2_q"))
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("dist2_q"), F.asc("vec_id")
    )
    return (
        d2.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= OUTLIER_TOPK)
        .select("label", "vec_id", "dist2_q", "rnk")
    )


EMB_OUTLIER_SQL = f"""
WITH cen AS ({EMB_CENTROID_SQL.strip()}),
q AS (
  SELECT vec_id, label, dim - 1 AS dim,
         CAST(round(CAST(x AS DOUBLE) * {CENTROID_Q}) AS BIGINT) AS q
  FROM (
    SELECT vec_id, label, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS dim
    FROM embeddings
  )
),
d2 AS (
  SELECT q.label, q.vec_id,
         SUM((q.q - c.centroid_q) * (q.q - c.centroid_q)) AS dist2_q
  FROM q JOIN cen c ON c.label = q.label AND c.dim = q.dim
  GROUP BY 1, 2
)
SELECT CAST(label AS INTEGER) AS label, vec_id,
       CAST(dist2_q AS BIGINT) AS dist2_q,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT label, vec_id, dist2_q,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY dist2_q DESC, vec_id) AS rnk
  FROM d2
) t WHERE rnk <= {OUTLIER_TOPK}
"""


def emb_nearest_centroid_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid classification of every embedding against the
    class prototypes, reported as a confusion matrix (true label ×
    predicted label × count) plus per-cell share of the true class —
    the 1-NN-to-prototype eval that turns ``emb_class_centroids``
    into a labeled-data quality score (an off-diagonal-heavy row
    means that class's embeddings don't cluster — label noise or a
    bad encoder).

    EXACT: squared distances in shared integer micro-units (the
    ``emb_class_outliers`` arithmetic); argmin ties break on the
    smaller label id; shares are integer ppm.

    Scale: |labels|·64 centroid rows broadcast twice (once per side
    of the distance fold); per-vector work is |labels| distance sums
    from ONE explode — a map-side cross of the vector table with a
    tiny prototype table, then an argmin window per vec_id.
    """
    cen = emb_class_centroids(spark, sf_dir).select(
        F.col("label").alias("cand"), "dim", "centroid_q"
    )
    q = load_embeddings(spark, sf_dir).select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("x").cast("double") * CENTROID_Q).cast("long").alias("q"),
    )
    d2 = (
        q.join(F.broadcast(cen), "dim")
        .select(
            "vec_id", "label", "cand",
            ((F.col("q") - F.col("centroid_q"))
             * (F.col("q") - F.col("centroid_q"))).alias("dd"),
        )
        .groupBy("vec_id", "label", "cand")
        .agg(F.sum("dd").alias("dist2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist2"), F.asc("cand"))
    pred = (
        d2.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "label", F.col("cand").alias("pred"))
    )
    conf = pred.groupBy("label", "pred").agg(F.count("*").alias("n"))
    row_tot = F.sum("n").over(Window.partitionBy("label"))
    return conf.withColumn("label_total", row_tot).select(
        "label",
        "pred",
        "n",
        "label_total",
        F.expr("(n * 1000000) DIV label_total").alias("share_ppm"),
    )


EMB_CONFUSION_SQL = f"""
WITH cen AS ({EMB_CENTROID_SQL.strip()}),
q AS (
  SELECT vec_id, label, dim - 1 AS dim,
         CAST(round(CAST(x AS DOUBLE) * {CENTROID_Q}) AS BIGINT) AS q
  FROM (
    SELECT vec_id, label, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS dim
    FROM embeddings
  )
),
d2 AS (
  SELECT q.vec_id, q.label, c.label AS cand,
         SUM((q.q - c.centroid_q) * (q.q - c.centroid_q)) AS dist2
  FROM q JOIN cen c ON c.dim = q.dim
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT vec_id, label, cand AS pred FROM (
    SELECT vec_id, label, cand,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist2 ASC, cand ASC) AS rk
    FROM d2
  ) t WHERE rk = 1
),
conf AS (
  SELECT label, pred, COUNT(*) AS n FROM pred GROUP BY 1, 2
)
SELECT CAST(label AS INTEGER) AS label, CAST(pred AS INTEGER) AS pred,
       CAST(n AS BIGINT) AS n,
       CAST(SUM(n) OVER (PARTITION BY label) AS BIGINT) AS label_total,
       CAST((n * 1000000) // SUM(n) OVER (PARTITION BY label) AS BIGINT)
         AS share_ppm
FROM conf
"""


def emb_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality summary per label: mean squared distance of
    members to their OWN centroid (cohesion — via the identity
    mean-pairwise-dist² = 2·mean-dist²-to-centroid, no pair
    enumeration) vs the squared distance from the class centroid to
    the GLOBAL centroid (separation) — the silhouette-style readout
    for "are these labels real clusters?", all in the shared integer
    micro-units.

    Scale: reuses the one exploded pass that built the centroids;
    the global centroid is a 64-row broadcast; nothing pairwise.
    """
    cen = emb_class_centroids(spark, sf_dir).select(
        "label", "dim", "n_vecs", "sum_q", "centroid_q"
    )
    glob = (
        cen.groupBy("dim")
        .agg(
            F.sum("sum_q").alias("gsum"),
            F.sum("n_vecs").alias("gn"),
        )
        .select(
            "dim",
            F.expr(
                "CASE WHEN gsum >= 0 THEN gsum DIV gn"
                " ELSE -((-gsum) DIV gn) END"
            ).alias("gcent_q"),
        )
    )
    q = load_embeddings(spark, sf_dir).select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id", "label", "dim",
        F.round(F.col("x").cast("double") * CENTROID_Q).cast("long").alias("q"),
    )
    coh = (
        q.join(F.broadcast(cen.select("label", "dim", "centroid_q")),
               ["label", "dim"])
        .select(
            "label",
            ((F.col("q") - F.col("centroid_q"))
             * (F.col("q") - F.col("centroid_q"))).alias("dd"),
        )
        .groupBy("label")
        .agg(F.sum("dd").alias("sum_dist2"))
    )
    sep = (
        cen.join(F.broadcast(glob), "dim")
        .select(
            "label",
            ((F.col("centroid_q") - F.col("gcent_q"))
             * (F.col("centroid_q") - F.col("gcent_q"))).alias("sd"),
        )
        .groupBy("label")
        .agg(F.sum("sd").alias("centroid_sep2"))
    )
    sizes = cen.groupBy("label").agg(F.max("n_vecs").alias("n_vecs"))
    return (
        sizes.join(coh, "label")
        .join(sep, "label")
        .select(
            "label",
            "n_vecs",
            "sum_dist2",
            F.expr("sum_dist2 DIV n_vecs").alias("mean_dist2"),
            "centroid_sep2",
        )
    )


EMB_SEPARATION_SQL = f"""
WITH cen AS ({EMB_CENTROID_SQL.strip()}),
gcent AS (
  SELECT dim,
         CASE WHEN SUM(sum_q) >= 0
              THEN CAST(SUM(sum_q) AS BIGINT) // CAST(SUM(n_vecs) AS BIGINT)
              ELSE -((-CAST(SUM(sum_q) AS BIGINT))
                     // CAST(SUM(n_vecs) AS BIGINT)) END AS gcent_q
  FROM cen GROUP BY 1
),
q AS (
  SELECT vec_id, label, dim - 1 AS dim,
         CAST(round(CAST(x AS DOUBLE) * {CENTROID_Q}) AS BIGINT) AS q
  FROM (
    SELECT vec_id, label, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS dim
    FROM embeddings
  )
),
coh AS (
  SELECT q.label, SUM((q.q - c.centroid_q) * (q.q - c.centroid_q))
           AS sum_dist2
  FROM q JOIN cen c ON c.label = q.label AND c.dim = q.dim
  GROUP BY 1
),
sep AS (
  SELECT c.label,
         SUM((c.centroid_q - g.gcent_q) * (c.centroid_q - g.gcent_q))
           AS centroid_sep2
  FROM cen c JOIN gcent g ON g.dim = c.dim
  GROUP BY 1
),
sizes AS (SELECT label, MAX(n_vecs) AS n_vecs FROM cen GROUP BY 1)
SELECT CAST(s.label AS INTEGER) AS label, CAST(s.n_vecs AS BIGINT) AS n_vecs,
       CAST(coh.sum_dist2 AS BIGINT) AS sum_dist2,
       CAST(CAST(coh.sum_dist2 AS BIGINT) // CAST(s.n_vecs AS BIGINT)
            AS BIGINT) AS mean_dist2,
       CAST(sep.centroid_sep2 AS BIGINT) AS centroid_sep2
FROM sizes s
JOIN coh ON coh.label = s.label
JOIN sep ON sep.label = s.label
"""


def emb_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance ranking of the embedding space — the
    pre-PCA diagnostic ("how many dims carry signal?") and the
    pruning guide for ``emb_matryoshka_recall``-style truncation.
    Variance is emitted as the exact integer n²·var = n·Q − S² over
    quantized micro-units (no division, no float), ranked descending
    with rank ties broken by dim.

    One exploded pass, one (dim)-keyed aggregate, 64-row output.
    """
    q = load_embeddings(spark, sf_dir).select(
        F.posexplode("embedding").alias("dim", "x")
    ).select(
        "dim",
        F.round(F.col("x").cast("double") * CENTROID_Q).cast("long").alias("q"),
    )
    # moments in DECIMAL(38,0): q² ≤ 1e12, so SUM(q²) and the n·qq −
    # s² fold overflow int64 around ~24k unit-norm vectors if computed
    # in LongType (DuckDB widens SUM to HUGEINT automatically — the
    # engines would silently diverge right above the 10x-probe scale).
    # The OUTPUT stays BIGINT: past the int64 output domain both
    # engines now fail loudly (ANSI cast / DuckDB CAST error) instead
    # of one wrapping silently.
    d38 = "decimal(38,0)"
    m = q.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.col("q").cast(d38)).alias("s"),
        F.sum((F.col("q") * F.col("q")).cast(d38)).alias("qq"),
    )
    varn2 = (
        (F.col("n").cast(d38) * F.col("qq") - F.col("s") * F.col("s"))
        .cast("long")
        .alias("var_n2")
    )
    ranked = m.select("dim", "n", varn2)
    w = Window.orderBy(F.desc("var_n2"), F.asc("dim"))
    return ranked.withColumn(
        "var_rank", F.row_number().over(w)
    ).select("dim", "n", "var_n2", "var_rank")


EMB_DIM_VAR_SQL = f"""
WITH q AS (
  SELECT dim - 1 AS dim,
         CAST(round(CAST(x AS DOUBLE) * {CENTROID_Q}) AS BIGINT) AS q
  FROM (
    SELECT unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS dim
    FROM embeddings
  )
),
m AS (
  SELECT dim, COUNT(*) AS n, SUM(q) AS s, SUM(q * q) AS qq
  FROM q GROUP BY 1
)
SELECT CAST(dim AS INTEGER) AS dim, CAST(n AS BIGINT) AS n,
       CAST(n * qq - s * s AS BIGINT) AS var_n2,
       CAST(ROW_NUMBER() OVER (ORDER BY n * qq - s * s DESC, dim)
            AS BIGINT) AS var_rank
FROM m
"""


DIST_SAMPLE_MOD = 16   # keep ~1/16 of ordered pairs, hash-selected
DIST_BUCKETS = 20      # cosine buckets of width 0.1 over [-1, 1]

#: Per-side vector budget for the pair census. The pair-hash filter
#: alone does NOT bound the work — the join still ENUMERATES all
#: N^2/2 ordered pairs before filtering, which the 10x probe read as
#: 28x wall (quadratic). Capping each join side at a deterministic
#: hash-ordered top-K bounds enumeration at K^2/2 REGARDLESS of
#: corpus size — the histogram becomes an estimate over a fixed pair
#: budget, which is what a 100 TB diagnostic wants anyway. 1024 sits
#: above every driver fixture (|embeddings| = 500 at sf0.001/0.01),
#: so at oracle scale the cap never binds and the output is the
#: uncapped census unchanged.
DIST_VEC_CAP = 1024


def emb_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-concentration diagnostic: the histogram of pairwise
    cosine similarities over a DETERMINISTIC 1/16 hash-sample of
    vector pairs drawn from two hash-ordered top-``DIST_VEC_CAP``
    vector samples, bucketed 0.1-wide over [−1, 1] — the curse-of-
    dimensionality check (a histogram collapsing onto one bucket
    means neighbors are indistinguishable and ANN recall targets are
    fiction). Hash-selection keeps the census reproducible: the same
    vectors and pairs are scored on every run and engine.

    Cosines use the order-exact fold (bit-identical across engines),
    so bucket floors agree exactly. Scale shape: two top-K selections
    (per-partition top-K + single merge of K·P candidates — never a
    full sort) bound the pair join at K²/2 enumerations no matter how
    large the corpus grows; the 1/16 pair-hash filter then thins the
    scored set. Cost is CONSTANT in corpus size once the cap binds.
    """
    from ..functions.hashing import hash64

    em = _with_norm(
        load_embeddings(spark, sf_dir), "embedding", "nrm"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb_d"),
        "nrm",
    )

    def side_cap(df: DataFrame, tag: str) -> DataFrame:
        key = hash64(
            F.concat(F.lit(tag), F.col("vec_id").cast("string"))
        )
        return (
            df.withColumn("_h", key)
            .orderBy(F.asc("_h"), F.asc("vec_id"))
            .limit(DIST_VEC_CAP)
            .drop("_h")
        )

    sa = side_cap(em, "dhA#")
    sb = side_cap(em, "dhB#").select(
        F.col("vec_id").alias("o_id"),
        F.col("emb_d").alias("o_emb_d"),
        F.col("nrm").alias("o_nrm"),
    )
    pair_key = F.concat(
        F.lit("dh#"), F.col("vec_id").cast("string"),
        F.lit("#"), F.col("o_id").cast("string"),
    )
    pairs = sa.join(
        F.broadcast(sb), F.col("vec_id") < F.col("o_id")
    ).filter(F.pmod(hash64(pair_key), F.lit(DIST_SAMPLE_MOD)) == 0)
    dot = _fold_sum(F.zip_with("emb_d", "o_emb_d", lambda x, y: x * y))
    cos = dot / (F.col("nrm") * F.col("o_nrm"))
    bucketed = pairs.select(
        F.least(
            F.greatest(
                F.floor((cos + 1.0) * (DIST_BUCKETS / 2)).cast("long"),
                F.lit(0),
            ),
            F.lit(DIST_BUCKETS - 1),
        ).alias("bucket")
    )
    counts = bucketed.groupBy("bucket").agg(F.count("*").alias("n_pairs"))
    tot = counts.agg(F.sum("n_pairs").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "bucket", "n_pairs",
        F.expr("(n_pairs * 1000000) DIV total").alias("share_ppm"),
    )


def _dist_hist_sql() -> str:
    from ..functions.hashing import hash64_sql

    h = hash64_sql(
        "'dh#' || CAST(q.vec_id AS VARCHAR) || '#' || CAST(e.vec_id AS VARCHAR)"
    )
    ha = hash64_sql("'dhA#' || CAST(vec_id AS VARCHAR)")
    hb = hash64_sql("'dhB#' || CAST(vec_id AS VARCHAR)")
    return f"""
WITH nz AS (SELECT * FROM embeddings WHERE {_NORM2_SQL} > 0),
sa AS (
  SELECT * FROM nz ORDER BY {ha}, vec_id LIMIT {DIST_VEC_CAP}
),
sb AS (
  SELECT * FROM nz ORDER BY {hb}, vec_id LIMIT {DIST_VEC_CAP}
),
pairs AS (
  SELECT q.vec_id AS a, e.vec_id AS b, {_COS_SQL} AS cos
  FROM sa q JOIN sb e ON q.vec_id < e.vec_id
  WHERE (({h}) % {DIST_SAMPLE_MOD} + {DIST_SAMPLE_MOD}) % {DIST_SAMPLE_MOD} = 0
),
bucketed AS (
  SELECT LEAST(GREATEST(CAST(floor((cos + 1.0) * {DIST_BUCKETS // 2})
                             AS BIGINT), 0), {DIST_BUCKETS - 1}) AS bucket
  FROM pairs
),
counts AS (SELECT bucket, COUNT(*) AS n_pairs FROM bucketed GROUP BY 1),
tot AS (SELECT SUM(n_pairs) AS total FROM counts)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST((n_pairs * 1000000) // total AS BIGINT) AS share_ppm
FROM counts CROSS JOIN tot
"""


EMB_DIST_HIST_SQL = _dist_hist_sql()


# Shadow every oracle's `embeddings` with its NULL-free projection —
# the DuckDB mirror of load_embeddings (see _shadow_nonnull_embeddings;
# NULL-payload corpus sweep, round 7). Applied to the WHOLE tier, not
# just the sites the sweep tripped, so Spark and oracle read one
# vector set by construction everywhere.
for _name in (
    "SIM_TOPK_SQL",
    "SIM_IVF_SQL",
    "EMB_NORMS_SQL",
    "EMB_DIM_MINMAX_SQL",
    "SIM_KMEANS_EXACT_SQL",
    "SIM_IVF_EXACT_SQL",
    "SIM_RECALL_SQL",
    "SIM_RANGE_SQL",
    "SIM_SRP_SQL",
    "EMB_QUANT_SQL",
    "SIM_QUANT_SQL",
    "MATRYOSHKA_SQL",
    "EMB_PQ_SQL",
    "SIM_PQ_ADC_SQL",
    "EMB_PCA_SQL",
    "EMB_KNN_SQL",
    "EMB_KNN_SRP_SQL",
    "EMB_CENTROID_SQL",
    "EMB_OUTLIER_SQL",
    "EMB_CONFUSION_SQL",
    "EMB_SEPARATION_SQL",
    "EMB_DIM_VAR_SQL",
    "EMB_DIST_HIST_SQL",
):
    globals()[_name] = _shadow_nonnull_embeddings(globals()[_name])
