"""Query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus (where SQL-expressible) a
DuckDB oracle string. ``__spark_entry__.py`` re-exports these for the
driver's correctness gate.

Conventions (enforced here, relied on by the driver):
 - every computed column is aliased identically in the Spark query and
   the oracle SQL;
 - double-valued aggregates use exact integer-cents arithmetic
   (``functions/exact.py``) so both engines produce bit-equal values;
 - result keys are cast to string where the reference semantics call
   for a string tag id.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import projections, stats, wordcount
from .session import op_session
from .sources.tables import load_table, prepend_cte

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query (and optionally its DuckDB oracle SQL).

    Every registered callable runs on a fresh ``op_session`` child of
    the caller's session, so no op changes the caller's conf, temp
    views or functions."""

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(op_session(spark), sf_dir)

        wrapped.__name__ = getattr(fn, "__name__", name)
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


# --------------------------------------------------------------------------
# Reference surface (SURVEY.md §2.1)
# --------------------------------------------------------------------------

@query(
    "src_kafka_stream",
    """
    SELECT event_id, user_id, event_type, value, props FROM events
    """,
)
def q_src_kafka_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #1 — source scan (batch stand-in for the Kafka receiver,
    ``KafkaStreamAverageCalculator.java:66-67``). The parquet scan is
    the pushdown/pruning target verified in tests/test_plans.py."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props"
    )


# A1-shaped record synthesis: the reference consumes JSON documents
# {"readTag_id": <str>, "readValue": "<string-encoded double>"} (Q1).
# We synthesize that exact shape from `events` with fixed-scale DECIMAL
# rendering so Spark and DuckDB build byte-identical strings.
def _a1_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"readTag_id": "'),
        F.col("event_type"),
        F.lit('", "readValue": "'),
        F.col("value").cast("decimal(14,2)").cast("string"),
        F.lit('"}'),
    )
    return ev.select(F.col("event_id"), doc.alias("value"))


_A1_SQL = """
SELECT event_id,
       '{"readTag_id": "' || event_type || '", "readValue": "'
         || CAST(CAST(value AS DECIMAL(14,2)) AS VARCHAR) || '"}' AS value
FROM events
"""


@query(
    "proj_json_extract_pair",
    # json_valid guard (same mechanism as fn_json_get_string): a group
    # key containing '"' or '\' makes the raw-spliced a1 record
    # malformed JSON on BOTH sides identically; Spark's get_json_object
    # then returns NULL where DuckDB's json_extract_string would THROW
    # (round-10 JSON-metacharacter keys in the groupkey fixture).
    f"""
    WITH a1 AS ({_A1_SQL})
    SELECT CASE WHEN json_valid(value)
                THEN json_extract_string(value, '$.readTag_id') END AS readTag_id,
           CAST(CASE WHEN json_valid(value)
                     THEN json_extract_string(value, '$.readValue') END
                AS DOUBLE) AS readValue
    FROM a1
    """,
)
def q_proj_json_extract_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #2 — JSON value → (readTag_id, readValue double), Q1
    string-encoded-double semantics
    (``KafkaStreamAverageCalculator.java:80-81, 201-215``)."""
    return projections.json_extract_pair(
        _a1_records(spark, sf_dir), "value", "readTag_id", "readValue"
    )


@query(
    "proj_json_extract_single",
    # json_valid guard: see proj_json_extract_pair.
    f"""
    WITH a1 AS ({_A1_SQL})
    SELECT CASE WHEN json_valid(value)
                THEN json_extract_string(value, '$.readTag_id') END AS line
    FROM a1
    """,
)
def q_proj_json_extract_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #11 — tag-only projection
    (``KafkaStreamPropertyAggregator.java:64-72``)."""
    return projections.json_extract_single(_a1_records(spark, sf_dir), "value", "readTag_id")


@query(
    "fn_json_get_string",
    # json_valid guard: Spark's get_json_object is PERMISSIVE (NULL on
    # malformed input) while DuckDB's json_extract_string THROWS —
    # truncated props must extract NULL in both (round-8 JSON sweep)
    """
    SELECT event_id,
           CASE WHEN json_valid(props)
                THEN json_extract_string(props, '$.k') END AS k_str
    FROM events
    """,
)
def q_fn_json_get_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #3 — JSON string-field extraction over events.props
    (``KafkaStreamAverageCalculator.java:202-203``). Malformed props
    extracts NULL (the reference catches the parse exception and
    skips the record — same observable: no value)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").alias("k_str")
    )


@query(
    "fn_cast_string_double",
    # TRY_CAST: a VALID-JSON non-numeric k ('{"k": "abc"}') must yield
    # NULL, not a conversion error — the docstring's whole contract
    # (round-8 review: the bare CAST left the malformed-props class
    # half closed, and Spark's ANSI .cast would have thrown too)
    """
    SELECT event_id,
           TRY_CAST(CASE WHEN json_valid(props)
                         THEN json_extract_string(props, '$.k') END
                    AS DOUBLE) AS k_val
    FROM events
    """,
)
def q_fn_cast_string_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #4 — ``Double.parseDouble`` equivalent: string→double cast,
    NULL (not exception) on garbage
    (``KafkaStreamAverageCalculator.java:210-211``)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("double").alias("k_val"),
    )


@query(
    "fn_scalar_min_max",
    """
    SELECT value AS v,
           LEAST(value, 0.0) AS least_zero,
           GREATEST(value, 0.0) AS greatest_zero
    FROM events
    """,
)
def q_fn_scalar_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #6 — scalar min/max (``Math.min``/``Math.max`` fold step,
    ``KafkaStreamAverageCalculator.java:141-142``)."""
    return projections.scalar_min_max(load_table(spark, sf_dir, "events"), "value")


@query(
    "agg_running_stats",
    stats.stats_oracle_sql("events", "user_id", "value"),
)
def q_agg_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #5 (flagship) — per-key cumulative sum/count/sumsqr/min/max/
    mean/variance (``KafkaStreamAverageCalculator.java:102-171``),
    declarative groupBy/agg form."""
    return stats.running_stats(load_table(spark, sf_dir, "events"), "user_id", "value")


@query(
    "agg_running_stats_by_type",
    stats.stats_oracle_sql("events", "event_type", "value"),
)
def q_agg_running_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #5 variant keyed by event_type (low-cardinality key — the
    reference's actual key shape, 10-100 distinct tags)."""
    return stats.running_stats(
        load_table(spark, sf_dir, "events"), "event_type", "value"
    )


_STATS_BY_TYPE_CTE = stats.stats_oracle_sql("events", "event_type", "value")


# DOUBLE -> VARCHAR -> DECIMAL(38,4): the VARCHAR hop pins DuckDB to
# the shortest-roundtrip decimal spelling before fixed-scale rounding,
# which is the path Spark's double->decimal cast takes (Scala
# BigDecimal(d) goes through Double.toString). A direct DOUBLE->DECIMAL
# cast in DuckDB multiplies in double space instead and disagrees in
# the last rendered digit once |x| > 2^53/1e4 ~ 9e11 (round-9
# adversarial-float sweep: sumsqr 1.2e13 rendered .9530 vs .9536).
# The small-magnitude CASE covers a DuckDB quirk the zero-variance
# sweep exposed: VARCHAR->DECIMAL misrounds some SCIENTIFIC-notation
# strings away from zero ('-7.2e-14' -> -0.0001), with an
# exponent/mantissa-dependent trigger; every affected input is
# < 5e-05 where the correct fixed-scale render is exactly 0, and in
# [5e-05, 1e-4) away-from-zero coincides with HALF_UP, so the guard
# makes the render correct for every double. Identity at real sf.
_WRAP_CELL = (
    "CAST(CASE WHEN abs({c}) < 5e-05 THEN CAST(0 AS DECIMAL(38,4))"
    " ELSE CAST(CAST({c} AS VARCHAR) AS DECIMAL(38,4)) END AS VARCHAR)"
)
# field-DROPPING JSON value for the streaming pipeline's oracle:
# Spark's to_json omits null struct fields entirely, so a key whose
# every measurement is missing serializes as
# '{"readTag_id":"x","counter":0.0000,"var":0.0000}' — each optional
# fragment vanishes via COALESCE(',"f":' || cell, ''), while a NULL
# KEY still nulls the whole record through the un-coalesced head
# (round-9 zero-variance sweep; the batch sink_kafka_json keeps its
# concat-propagates-NULL form and its own oracle).
#
# Spark's to_json (Jackson) additionally ESCAPES JSON metacharacters
# inside string values, while a raw splice would diverge on a key
# containing '"' or '\' (ADVICE r9). Mirror Jackson's escapes here:
# backslash FIRST, then quote, then the five named control escapes
# Jackson emits (\b \t \n \f \r). Control characters outside that set
# (Jackson renders \u00XX) remain a documented key-charset
# precondition — same contract class as stream_dedup's; no generated
# or fixture key mints them. chr() keeps the SQL free of Python/SQL
# backslash-escape ambiguity. replace(NULL,..) stays NULL, so the
# un-coalesced head still nulls the whole record for a NULL key.
_JSON_ESC_KEY = (
    "replace(replace(replace(replace(replace(replace(replace("
    "readTag_id,"
    " chr(92), chr(92)||chr(92)),"
    " chr(34), chr(92)||chr(34)),"
    " chr(8), chr(92)||'b'),"
    " chr(9), chr(92)||'t'),"
    " chr(10), chr(92)||'n'),"
    " chr(12), chr(92)||'f'),"
    " chr(13), chr(92)||'r')"
)
_KAFKA_VALUE_DROPPING = (
    f""" '{{"readTag_id":"' || {_JSON_ESC_KEY} || '"' || """
    + " || ".join(
        f"""COALESCE(',"{c}":' || {_WRAP_CELL.format(c=c)}, '')"""
        for c in ("summer", "counter", "sumsqr", "bestmin", "bestmax", "mean", "var")
    )
    + " || '}'"
)

_STREAM_KAFKA_SQL = (
    f"WITH s AS ({_STATS_BY_TYPE_CTE})\n"
    f"SELECT readTag_id AS key, {_KAFKA_VALUE_DROPPING} AS value\nFROM s"
)


@query(
    "proj_wrap_array",
    # COALESCE(cell, 'null') mirrors the Spark side's explicit
    # array_join null placeholder (round-9 zero-variance sweep)
    f"""
    WITH s AS ({_STATS_BY_TYPE_CTE})
    SELECT readTag_id,
           '[' || {" || ',' || ".join(f"COALESCE({_WRAP_CELL.format(c=c)}, 'null')" for c in ("summer", "counter", "sumsqr", "bestmin", "bestmax", "mean", "var"))} || ']' AS stats
    FROM s
    """,
)
def q_proj_wrap_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #9 — stats row → array display wrap
    (``KafkaStreamAverageCalculator.java:185-186``). Registered output
    renders the array as one fixed-scale string (driver canonicalizers
    cannot hash array cells); the array<double> form stays available as
    ``projections.wrap_stats_array``."""
    return projections.wrap_stats_array_joined(
        stats.running_stats(load_table(spark, sf_dir, "events"), "event_type", "value")
    )


@query(
    "sink_kafka_json",
    f"""
    WITH s AS ({_STATS_BY_TYPE_CTE})
    SELECT readTag_id AS key,
           '{{"readTag_id":"' || readTag_id
             || '","summer":'  || CAST(CASE WHEN abs(summer) < 5e-05 THEN CAST(0 AS DECIMAL(38,4)) ELSE CAST(CAST(summer AS VARCHAR) AS DECIMAL(38,4)) END AS VARCHAR)
             || ',"counter":'  || CAST(CASE WHEN abs(counter) < 5e-05 THEN CAST(0 AS DECIMAL(38,4)) ELSE CAST(CAST(counter AS VARCHAR) AS DECIMAL(38,4)) END AS VARCHAR)
             || ',"sumsqr":'   || CAST(CASE WHEN abs(sumsqr) < 5e-05 THEN CAST(0 AS DECIMAL(38,4)) ELSE CAST(CAST(sumsqr AS VARCHAR) AS DECIMAL(38,4)) END AS VARCHAR)
             || ',"bestmin":'  || CAST(CASE WHEN abs(bestmin) < 5e-05 THEN CAST(0 AS DECIMAL(38,4)) ELSE CAST(CAST(bestmin AS VARCHAR) AS DECIMAL(38,4)) END AS VARCHAR)
             || ',"bestmax":'  || CAST(CASE WHEN abs(bestmax) < 5e-05 THEN CAST(0 AS DECIMAL(38,4)) ELSE CAST(CAST(bestmax AS VARCHAR) AS DECIMAL(38,4)) END AS VARCHAR)
             || ',"mean":'     || CAST(CASE WHEN abs(mean) < 5e-05 THEN CAST(0 AS DECIMAL(38,4)) ELSE CAST(CAST(mean AS VARCHAR) AS DECIMAL(38,4)) END AS VARCHAR)
             || ',"var":'      || CAST(CASE WHEN abs(var) < 5e-05 THEN CAST(0 AS DECIMAL(38,4)) ELSE CAST(CAST(var AS VARCHAR) AS DECIMAL(38,4)) END AS VARCHAR)
             || '}}' AS value
    FROM s
    """,
)
def q_sink_kafka_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #8 — result POJO → JSON Kafka record (key, value)
    (``KafkaStreamAverageCalculator.java:164-168, 193-199``;
    ``kafka/KafkaProducer.java:52-54``). Fixed-scale DECIMAL rendering
    for engine-portable number text; the streaming sink uses idiomatic
    ``to_json(struct(...))``."""
    return projections.stats_to_kafka_record(
        stats.running_stats(load_table(spark, sf_dir, "events"), "event_type", "value")
    )


@query(
    "op_flatmap_tokenize",
    """
    SELECT word FROM (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ) t WHERE word <> ''
    """,
)
def q_op_flatmap_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #12 — flatMap split-on-space
    (``KafkaStreamPropertyAggregator.java:74-79``)."""
    return wordcount.tokenize(load_table(spark, sf_dir, "documents"), "text")


@query(
    "agg_batch_wordcount",
    """
    SELECT word, COUNT(*) AS cnt FROM (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ) t WHERE word <> '' GROUP BY word
    """,
)
def q_agg_batch_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #13 — word count (``KafkaStreamPropertyAggregator.java:81-94``);
    per-micro-batch scoping is the streaming variant (SURVEY.md Q2)."""
    return wordcount.word_count(load_table(spark, sf_dir, "documents"), "text")


@query(
    "fn_welford_update",
    stats.welford_oracle_sql("events", "event_type", "value"),
)
def q_fn_welford_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #7 — the Welford online-mean/variance kernel
    (``KafkaStreamAverageCalculator.java:138-140, 146-150``), exposing
    mean/m2/var; see operators/stats.py:welford_stats for the
    exact-arithmetic derivation rationale."""
    return stats.welford_stats(
        load_table(spark, sf_dir, "events"), "event_type", "value"
    )


@query(
    "sink_console",
    f"""
    WITH s AS ({stats.stats_oracle_sql("events", "event_type", "value")})
    SELECT * FROM s ORDER BY readTag_id LIMIT 10
    """,
)
def q_sink_console(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #10 — ``dstream.print()`` batch stand-in: the first 10
    result rows under a deterministic total order
    (``KafkaStreamAverageCalculator.java:188``;
    ``KafkaStreamPropertyAggregator.java:96``). The streaming form is
    ``writeStream.format("console")`` (exercised in tests)."""
    return (
        stats.running_stats(load_table(spark, sf_dir, "events"), "event_type", "value")
        .orderBy("readTag_id")
        .limit(10)
    )


_SEED_SQL = f"""
WITH partials AS (
  SELECT CAST(event_type AS VARCHAR) AS readTag_id,
         event_id % 2 AS phase,
         SUM(CAST(round(value*100) AS BIGINT)) AS s_c,
         COUNT(value) AS n,
         SUM(CAST(round(value*100) AS DECIMAL(18,0))
           * CAST(round(value*100) AS DECIMAL(18,0))) AS ssq_c2,
         MIN(value) AS mn,
         MAX(value) AS mx
  FROM events GROUP BY 1, 2
)
SELECT readTag_id,
       CAST(SUM(s_c) AS DOUBLE)/100.0 AS summer,
       CAST(SUM(n) AS DOUBLE) AS counter,
       CAST(SUM(ssq_c2) AS DOUBLE)/10000.0 AS sumsqr,
       MIN(mn) AS bestmin,
       MAX(mx) AS bestmax,
       (CAST(SUM(s_c) AS DOUBLE)/100.0) / CAST(SUM(n) AS DOUBLE) AS mean,
       COUNT(*) AS n_phases
FROM partials GROUP BY readTag_id
"""


@query("state_seed_initial", _SEED_SQL)
def q_state_seed_initial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #14 — initial-state seeding as an associative partial-state
    merge (``KafkaStreamAverageCalculator.java:105``, minus bug B1's
    sentinels): half the stream becomes the seed state, the rest is
    folded in, and the merge must equal the single-pass answer."""
    return stats.seeded_stats_merge(
        load_table(spark, sf_dir, "events"),
        "event_type",
        "value",
        F.col("event_id") % 2,
    )


@query(
    "agg_salted_wordcount",
    """
    SELECT word, COUNT(*) AS cnt FROM (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ) t WHERE word <> '' GROUP BY word
    """,
)
def q_agg_salted_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted variant of op #13 — two-stage (word, salt)
    pre-aggregation; integer partials make it exactly equal to the
    one-stage count (same oracle)."""
    return wordcount.word_count_salted(load_table(spark, sf_dir, "documents"), "text")


@query("sink_parquet_roundtrip", None)  # oracle set below (import order)
def q_sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake sink surface: partitioned-parquet write + read-back of the
    flagship stats (sources/sinks.py)."""
    from .sources.sinks import sink_parquet_roundtrip

    return sink_parquet_roundtrip(spark, sf_dir)


from .sources.sinks import SINK_PARQUET_SQL as _SINK_PARQUET_SQL  # noqa: E402

ORACLES["sink_parquet_roundtrip"] = _SINK_PARQUET_SQL.strip()


@query("src_file_formats", None)  # oracle attached below
def q_src_file_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-format scan surface: parquet/CSV/JSON readers + writers
    must agree exactly (sources/sinks.py)."""
    from .sources.sinks import src_file_formats

    return src_file_formats(spark, sf_dir)


from .sources.sinks import SRC_FILE_FORMATS_SQL as _SRC_FMT_SQL  # noqa: E402

ORACLES["src_file_formats"] = _SRC_FMT_SQL.strip()


@query("src_partition_prune", None)  # oracle attached below
def q_src_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-parquet write + partition-pruned read-back
    (sources/sinks.py) — PartitionFilters asserted in tests/test_plans.py."""
    from .sources.sinks import src_partition_prune

    return src_partition_prune(spark, sf_dir)


from .sources.sinks import SRC_PARTITION_PRUNE_SQL as _SRC_PRUNE_SQL  # noqa: E402

ORACLES["src_partition_prune"] = _SRC_PRUNE_SQL.strip()


@query(
    "agg_higher_moments",
    stats.higher_moments_sql("events", "event_type", "value"),
)
def q_agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact skewness/kurtosis per key from integer power sums — the
    flagship statistics surface extended to 3rd/4th moments
    (operators/stats.py:higher_moments)."""
    return stats.higher_moments(
        load_table(spark, sf_dir, "events"), "event_type", "value"
    )


@query(
    "agg_naive_variance",
    """
    SELECT CAST(event_type AS VARCHAR) AS readTag_id,
           CASE WHEN COUNT(value) > 1 THEN
             (CAST(CAST(SUM(CAST(round(value*100) AS DECIMAL(18,0)) * CAST(round(value*100) AS DECIMAL(18,0))) AS VARCHAR) AS DOUBLE) / 10000.0
               - (CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 100.0)
                 * (CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 100.0)
                 / CAST(COUNT(value) AS DOUBLE))
             / CAST(COUNT(value) - 1 AS DOUBLE)
           ELSE 0.0 END AS var_naive
    FROM events GROUP BY 1
    """,
)
def q_agg_naive_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op #17 — the reference's commented-out naive variance
    cross-check (``KafkaStreamAverageCalculator.java:174-182``),
    promoted to a first-class query."""
    from .functions.exact import var_exact

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").cast("string").alias("readTag_id")).agg(
        var_exact("value").alias("var_naive")
    )


# --------------------------------------------------------------------------
# Extended relational surface (SURVEY.md §2.2, build plan M4)
# --------------------------------------------------------------------------

from .operators import relational as _rel  # noqa: E402
from .sources import sinks as _snk  # noqa: E402

query("q1_pricing_summary", _rel.Q1_SQL)(_rel.q1_pricing_summary)
query("q3_shipping_priority", _rel.Q3_SQL)(_rel.q3_shipping_priority)
query("q5_local_supplier_volume", _rel.Q5_SQL)(_rel.q5_local_supplier_volume)
query("join_broadcast_agg", _rel.JOIN_BROADCAST_SQL)(_rel.join_broadcast_agg)
query("join_semi", _rel.JOIN_SEMI_SQL)(_rel.join_semi)
query("join_anti", _rel.JOIN_ANTI_SQL)(_rel.join_anti)
query("join_full_outer", _rel.JOIN_FULL_OUTER_SQL)(_rel.join_full_outer)
query("agg_mode_argmax", _rel.AGG_MODE_SQL)(_rel.agg_mode_argmax)
query("join_asof_latest_order", _rel.JOIN_ASOF_SQL)(_rel.join_asof_latest_order)
query("join_pit_training_assembly", _rel.JOIN_PIT_SQL)(
    _rel.join_pit_training_assembly
)
query("agg_rollup", _rel.AGG_ROLLUP_SQL)(_rel.agg_rollup)
query("agg_cube", _rel.AGG_CUBE_SQL)(_rel.agg_cube)
query("window_topk_per_group", _rel.WINDOW_TOPK_SQL)(_rel.window_topk_per_group)
query("window_analytics", _rel.WINDOW_ANALYTICS_SQL)(_rel.window_analytics)
query("window_range_frame", _rel.WINDOW_RANGE_SQL)(_rel.window_range_frame)
query("window_rank_funcs", _rel.WINDOW_RANK_SQL)(_rel.window_rank_funcs)
query("window_first_last", _rel.WINDOW_FIRST_LAST_SQL)(_rel.window_first_last)
query("sql_lateral", _rel.SQL_LATERAL_TEXT)(_rel.sql_lateral)
query("ts_resample_ffill", _rel.TS_RESAMPLE_SQL)(_rel.ts_resample_ffill)
query("sort_limit_topk", _rel.SORT_LIMIT_SQL)(_rel.sort_limit_topk)
query("set_ops", _rel.SET_OPS_SQL)(_rel.set_ops)
query("distinct_dedup", _rel.DISTINCT_SQL)(_rel.distinct_dedup)
query("string_funcs", _rel.STRING_FUNCS_SQL)(_rel.string_funcs)
query("date_funcs", _rel.DATE_FUNCS_SQL)(_rel.date_funcs)
query("array_funcs", _rel.ARRAY_FUNCS_SQL)(_rel.array_funcs)
query("fn_event_time_pack", _rel.EVENT_TIME_PACK_SQL)(_rel.fn_event_time_pack)
query("ts_gap_stats", _rel.TS_GAP_STATS_SQL)(_rel.ts_gap_stats)
query("ts_rolling_window_1h", _rel.TS_ROLLING_1H_SQL)(_rel.ts_rolling_window_1h)
query("src_schema_drift", _snk.SRC_SCHEMA_DRIFT_SQL)(_snk.src_schema_drift)
query("obs_pipeline_metrics", _snk.OBS_METRICS_SQL)(_snk.obs_pipeline_metrics)
query("sink_compaction", _snk.SINK_COMPACTION_SQL)(_snk.sink_compaction)
query("src_python_datasource", _snk.SRC_PYSRC_SQL)(_snk.src_python_datasource)
query("sink_python_datasource", _snk.SINK_PYSINK_SQL)(_snk.sink_python_datasource)
query("src_binary_files", _snk.SRC_BINFILE_SQL)(_snk.src_binary_files)
query("fn_bitwise_pack", _rel.BITWISE_PACK_SQL)(_rel.fn_bitwise_pack)
query("fn_variant_json", _rel.FN_VARIANT_SQL)(_rel.fn_variant_json)
query("agg_boolean_pack", _rel.AGG_BOOLEAN_SQL)(_rel.agg_boolean_pack)
query("fn_crypto_roundtrip", _rel.FN_CRYPTO_SQL)(_rel.fn_crypto_roundtrip)
query("agg_mode_qty", _rel.AGG_MODE_QTY_SQL)(_rel.agg_mode_qty)
query("count_distinct_exact", _rel.COUNT_DISTINCT_SQL)(_rel.count_distinct_exact)
query("agg_multi_distinct", _rel.AGG_MULTI_DISTINCT_SQL)(_rel.agg_multi_distinct)
query("agg_collect_ordered", _rel.AGG_COLLECT_SQL)(_rel.agg_collect_ordered)
query("approx_aggs", _rel.APPROX_AGGS_SQL)(_rel.approx_aggs)
query("percentile_exact", _rel.PERCENTILE_SQL)(_rel.percentile_exact)
query("q6_forecast_revenue", _rel.Q6_SQL)(_rel.q6_forecast_revenue)
query("q7_volume_shipping", _rel.Q7_SQL)(_rel.q7_volume_shipping)
query("q10_returned_items", _rel.Q10_SQL)(_rel.q10_returned_items)
query("q4_order_priority", _rel.Q4_SQL)(_rel.q4_order_priority)
query("q19_disjunctive_filter", _rel.Q19_SQL)(_rel.q19_disjunctive_filter)
query("q14_promo_revenue", _rel.Q14_SQL)(_rel.q14_promo_revenue)
query("funnel_conversion", _rel.FUNNEL_SQL)(_rel.funnel_conversion)
query("agg_histogram", _rel.AGG_HISTOGRAM_SQL)(_rel.agg_histogram)
query("agg_grouping_sets", _rel.AGG_GROUPING_SETS_SQL)(_rel.agg_grouping_sets)
query("map_funcs", _rel.MAP_FUNCS_SQL)(_rel.map_funcs)
query("join_range_price_band", _rel.JOIN_RANGE_SQL)(_rel.join_range_price_band)
query("agg_session_window", _rel.AGG_SESSION_SQL)(_rel.agg_session_window)
query("agg_corr_covar", _rel.AGG_CORR_SQL)(_rel.agg_corr_covar)
query("sql_surface", _rel.SQL_SURFACE_TEXT)(_rel.sql_surface)
query("agg_pivot", _rel.AGG_PIVOT_SQL)(_rel.agg_pivot)
query("agg_unpivot", _rel.AGG_UNPIVOT_SQL)(_rel.agg_unpivot)
query("sql_exists_subquery", _rel.SQL_EXISTS_TEXT)(_rel.sql_exists_subquery)
query("sql_recursive", _rel.SQL_RECURSIVE_ORACLE)(_rel.sql_recursive)
query("null_handling", _rel.NULL_HANDLING_SQL)(_rel.null_handling)
query("q2_min_cost_supplier", _rel.Q2_SQL)(_rel.q2_min_cost_supplier)
query("q8_market_share", _rel.Q8_SQL)(_rel.q8_market_share)
query("q9_product_profit", _rel.Q9_SQL)(_rel.q9_product_profit)
query("q13_customer_distribution", _rel.Q13_SQL)(_rel.q13_customer_distribution)
query("q15_top_supplier", _rel.Q15_SQL)(_rel.q15_top_supplier)
query("q17_small_quantity_revenue", _rel.Q17_SQL)(_rel.q17_small_quantity_revenue)
query("q18_large_volume_customer", _rel.Q18_SQL)(_rel.q18_large_volume_customer)
query("q22_idle_customers", _rel.Q22_SQL)(_rel.q22_idle_customers)
query("q16_part_supplier_counts", _rel.Q16_SQL)(_rel.q16_part_supplier_counts)
query("q20_part_promotion_suppliers", _rel.Q20_SQL)(_rel.q20_part_promotion_suppliers)
query("src_synthetic_gen", _rel.SRC_GEN_SQL)(_rel.src_synthetic_gen)
query("sort_pareto_front", _rel.SORT_PARETO_SQL)(_rel.sort_pareto_front)
query("set_ops_all", _rel.SET_OPS_ALL_SQL)(_rel.set_ops_all)
query("agg_value_deciles", _rel.AGG_DECILES_SQL)(_rel.agg_value_deciles)

from .operators import analytics as _an  # noqa: E402

query("q11_important_values", _an.Q11_SQL)(_an.q11_important_values)
query("q12_late_priority_counts", _an.Q12_SQL)(_an.q12_late_priority_counts)
query("q21_waiting_suppliers", _an.Q21_SQL)(_an.q21_waiting_suppliers)
query("anomaly_zscore", _an.ANOMALY_ZSCORE_SQL)(_an.anomaly_zscore)
query("ts_anomaly_mad", _an.TS_ANOMALY_MAD_SQL)(_an.ts_anomaly_mad)
query("ts_resample_interp", _an.TS_INTERP_SQL)(_an.ts_resample_interp)
query("seq_pattern_triples", _an.SEQ_PATTERN_SQL)(_an.seq_pattern_triples)
query("assoc_rules_pairs", _an.ASSOC_RULES_SQL)(_an.assoc_rules_pairs)
query("ts_seasonal_profile", _an.TS_SEASONAL_SQL)(_an.ts_seasonal_profile)
query("agg_weighted_median", _an.AGG_WMEDIAN_SQL)(_an.agg_weighted_median)
query("ts_cusum_alarm", _an.TS_CUSUM_SQL)(_an.ts_cusum_alarm)
query("seq_transition_matrix", _an.SEQ_TRANSITION_SQL)(_an.seq_transition_matrix)
query("ts_autocorr_lag", _an.TS_AUTOCORR_SQL)(_an.ts_autocorr_lag)
query("agg_theil_sen", _an.AGG_THEIL_SEN_SQL)(_an.agg_theil_sen)
query("ts_peak_prominence", _an.TS_PEAK_SQL)(_an.ts_peak_prominence)
query("agg_gini_impurity", _an.AGG_GINI_SQL)(_an.agg_gini_impurity)
query("seq_training_windows", _an.SEQ_WINDOWS_SQL)(_an.seq_training_windows)
query("pipeline_anomaly_panel", _an.PIPELINE_ANOMALY_SQL)(_an.pipeline_anomaly_panel)
query("ab_test_report", _an.AB_TEST_SQL)(_an.ab_test_report)
query("ts_activity_streaks", _an.TS_STREAKS_SQL)(_an.ts_activity_streaks)
query("seq_top_paths", _an.SEQ_TOP_PATHS_SQL)(_an.seq_top_paths)
query("ts_backtest_snaive", _an.TS_SNAIVE_SQL)(_an.ts_backtest_snaive)
query("ts_cumulative_users", _an.TS_CUMUSERS_SQL)(_an.ts_cumulative_users)
query("agg_winsorized_mean", _an.AGG_WINSOR_SQL)(_an.agg_winsorized_mean)
query("ts_atr_volatility", _an.TS_ATR_SQL)(_an.ts_atr_volatility)
query("funnel_latency_quantiles", _an.FUNNEL_LATENCY_SQL)(_an.funnel_latency_quantiles)
query("ts_peak_attribution", _an.TS_PEAK_ATTR_SQL)(_an.ts_peak_attribution)
query("ts_rolling_anomaly", _an.TS_ROLL_ANOM_SQL)(_an.ts_rolling_anomaly)
query("mart_user_360", _an.MART_USER_360_SQL)(_an.mart_user_360)
query("ts_weekend_lift", _an.TS_WEEKEND_SQL)(_an.ts_weekend_lift)
query("cohort_ltv_matrix", _an.COHORT_LTV_SQL)(_an.cohort_ltv_matrix)
query("ts_changepoint_impact", _an.TS_CHGPT_SQL)(_an.ts_changepoint_impact)
query("agg_bounce_rate", _an.AGG_BOUNCE_SQL)(_an.agg_bounce_rate)
query("ts_fano_factor", _an.TS_FANO_SQL)(_an.ts_fano_factor)
query("ts_dominant_period", _an.TS_DOMINANT_SQL)(_an.ts_dominant_period)
query("ts_dayn_retention", _an.TS_DAYN_SQL)(_an.ts_dayn_retention)
query("text_tfidf_topk", _an.TEXT_TFIDF_SQL)(_an.text_tfidf_topk)
query("join_salted_skew", _an.JOIN_SALTED_SQL)(_an.join_salted_skew)
query("agg_sliding_window", _an.AGG_SLIDING_SQL)(_an.agg_sliding_window)
query("sample_split_hash", _an.SAMPLE_SPLIT_SQL)(_an.sample_split_hash)
query("join_bloom_prefilter", _an.JOIN_BLOOM_SQL)(_an.join_bloom_prefilter)
query("text_char_ngram_profile", _an.TEXT_CHAR_NGRAM_SQL)(_an.text_char_ngram_profile)
query("sample_stratified_topn", _an.SAMPLE_STRAT_SQL)(_an.sample_stratified_topn)
query("cohort_retention", _an.COHORT_SQL)(_an.cohort_retention)
query("approx_cms_topk", _an.CMS_SQL)(_an.approx_cms_topk)

from .functions import jsonf as _jsonf  # noqa: E402
from .functions.hashing import (  # noqa: E402
    hll_estimate,
    hll_merge_demo,
    hll_merge_oracle_sql,
    hll_oracle_sql,
)

query("json_corrupt_policy", _jsonf.JSON_CORRUPT_SQL)(_jsonf.json_corrupt_policy)


@query(
    "approx_distinct_portable",
    hll_oracle_sql("lineitem", "l_returnflag", "CAST(l_partkey AS VARCHAR)"),
)
def q_approx_distinct_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog distinct-count (functions/hashing.py)
    — the oracle-checkable counterpart to approx_aggs' private sketch."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_partkey").cast("string").alias("pk")
    )
    return hll_estimate(li, ["l_returnflag"], "pk")


@query(
    "approx_distinct_merge",
    hll_merge_oracle_sql("lineitem", "l_returnflag", "CAST(l_partkey AS VARCHAR)"),
)
def q_approx_distinct_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch MERGE: per-group bucket maxima merged (max-of-max)
    into a global '__ALL__' sketch without rescanning the data — the
    property that makes sketches viable at 100 TB (partials combine
    map-side; the merge moves only HLL_M ints per group)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_partkey").cast("string").alias("pk")
    )
    return hll_merge_demo(li, "l_returnflag", "pk")

from .functions import udfs as _udfs  # noqa: E402

query("udf_surface", _udfs.UDF_SURFACE_SQL)(_udfs.udf_surface)


# --------------------------------------------------------------------------
# LLM-data-pipeline operators (build plan M5)
# --------------------------------------------------------------------------

from .operators import dedup as _dd  # noqa: E402
from .operators import multimodal as _mm  # noqa: E402
from .operators import similarity as _sim  # noqa: E402
from .operators import textstats as _ts  # noqa: E402

query("dedup_exact", _dd.DEDUP_EXACT_SQL)(_dd.dedup_exact)
query("dedup_ngram_jaccard", _dd.DEDUP_NGRAM_SQL)(_dd.dedup_ngram_jaccard)
query("dedup_containment", _dd.DEDUP_CONTAIN_SQL)(_dd.dedup_containment)
query("dedup_minhash_lsh", _dd.DEDUP_MINHASH_SQL)(_dd.dedup_minhash_lsh)
query("dedup_simhash", _dd.SIMHASH_SQL)(_dd.simhash_fingerprint)
query("dedup_simhash_pairs", _dd.DEDUP_SIMHASH_PAIRS_SQL)(_dd.dedup_simhash_pairs)
query("dedup_cluster_keep", _dd.DEDUP_CLUSTER_SQL)(_dd.dedup_cluster_keep)
query("dedup_embedding_cosine", _dd.DEDUP_EMB_COSINE_SQL)(_dd.dedup_embedding_cosine)
query("pipeline_dedup_filter", _dd.PIPELINE_DEDUP_SQL)(_dd.pipeline_dedup_filter)
query("dedup_minhash_quality", _dd.DEDUP_MINHASH_QUALITY_SQL)(_dd.dedup_minhash_quality)
query("dedup_fingerprint_overlap", _dd.FP_OVERLAP_SQL)(
    _dd.dedup_fingerprint_overlap
)
query("dedup_index_tuning_report", _dd.DEDUP_TUNING_SQL)(
    _dd.dedup_index_tuning_report
)
query("dedup_source_overlap_matrix", _dd.DEDUP_SRC_OVERLAP_SQL)(
    _dd.dedup_source_overlap_matrix
)
query("dedup_prefix_filter_join", _dd.DEDUP_PFX_SQL)(
    _dd.dedup_prefix_filter_join
)
query("dedup_method_agreement", _dd.DEDUP_AGREEMENT_SQL)(
    _dd.dedup_method_agreement
)
query("text_dup_ngram_fraction", _dd.TEXT_DUP_NGRAM_SQL)(
    _dd.text_dup_ngram_fraction
)
query("sim_topk_cosine", _sim.SIM_TOPK_SQL)(_sim.sim_topk_cosine)
query("sim_kmeans_exact_cells", _sim.SIM_KMEANS_EXACT_SQL)(
    _sim.sim_kmeans_exact_cells
)
query("sim_ivf_exact_topk", _sim.SIM_IVF_EXACT_SQL)(_sim.sim_ivf_exact_topk)
query("sim_ivf_topk", _sim.SIM_IVF_SQL)(_sim.sim_ivf_topk)
query("embedding_norms", _sim.EMB_NORMS_SQL)(_sim.embedding_norms)
# observability for the round-11 EMBADV ingest contract (ADVICE r11
# item 3): per-reason drop counts over the RAW table, zero-filled
query("emb_ingest_audit", _sim.EMB_INGEST_AUDIT_SQL)(_sim.emb_ingest_audit)
query("sim_ivf_recall", _sim.SIM_RECALL_SQL)(_sim.sim_ivf_recall)
query("emb_matryoshka_recall", _sim.MATRYOSHKA_SQL)(_sim.emb_matryoshka_recall)
query("emb_pq_codebook", _sim.EMB_PQ_SQL)(_sim.emb_pq_codebook)
query("emb_pca_power", _sim.EMB_PCA_SQL)(_sim.emb_pca_power)
query("emb_knn_graph", _sim.EMB_KNN_SQL)(_sim.emb_knn_graph)
# scale-safe twin: SRP-banded candidate join + exact re-rank; the exact
# all-pairs census above stays registered as its fixture-scale recall
# oracle (registered round 8)
query("emb_knn_srp_graph", _sim.EMB_KNN_SRP_SQL)(_sim.emb_knn_srp_graph)
query("emb_class_centroids", _sim.EMB_CENTROID_SQL)(_sim.emb_class_centroids)
query("emb_class_outliers", _sim.EMB_OUTLIER_SQL)(_sim.emb_class_outliers)
query("emb_nearest_centroid_confusion", _sim.EMB_CONFUSION_SQL)(
    _sim.emb_nearest_centroid_confusion
)
query("emb_class_separation", _sim.EMB_SEPARATION_SQL)(
    _sim.emb_class_separation
)
query("emb_dim_variance", _sim.EMB_DIM_VAR_SQL)(_sim.emb_dim_variance)
query("emb_distance_histogram", _sim.EMB_DIST_HIST_SQL)(
    _sim.emb_distance_histogram
)
query("sim_pq_adc_topk", _sim.SIM_PQ_ADC_SQL)(_sim.sim_pq_adc_topk)
query("sim_range_search", _sim.SIM_RANGE_SQL)(_sim.sim_range_search)
query("sim_srp_topk", _sim.SIM_SRP_SQL)(_sim.sim_srp_topk)
query("emb_quantize_int8", _sim.EMB_QUANT_SQL)(_sim.emb_quantize_int8)
query("sim_quantized_topk", _sim.SIM_QUANT_SQL)(_sim.sim_quantized_topk)
# sim_kmeans_cells / sim_ivf_kmeans_topk (float Lloyd-iteration chains)
# are deliberately NOT registered as queries: float k-means centroids
# are not hash-reproducible across engines, so they can never earn a
# value-checked CORRECTNESS row (they sat as `err: no_oracle` rows-only
# entries through r05 — VERDICT r5 item 5). They remain first-class
# library operators with pytest coverage (tests/test_similarity.py),
# and their integer-exact twins `sim_kmeans_exact_cells` /
# `sim_ivf_exact_topk` ARE registered and driver-green (r05), proving
# the identical plan shape end-to-end.
query("lang_id_ngram", _ts.LANG_ID_SQL)(_ts.lang_id_ngram)
query("text_quality_score", _ts.TEXT_QUALITY_SQL)(_ts.text_quality_score)
query("token_count", _ts.TOKEN_COUNT_SQL)(_ts.token_count)
query("doc_fingerprint", _ts.DOC_FINGERPRINT_SQL)(_ts.doc_fingerprint)
query("pipeline_docs_prep", _ts.PIPELINE_DOCS_SQL)(_ts.pipeline_docs_prep)
query("doc_winnowing", _ts.DOC_WINNOW_SQL)(_ts.doc_winnowing)
query("text_bigram_freq", _ts.TEXT_BIGRAM_SQL)(_ts.text_bigram_freq)
query("text_oov_rate", _ts.TEXT_OOV_SQL)(_ts.text_oov_rate)
query("text_lexical_diversity", _ts.TEXT_LEXDIV_SQL)(_ts.text_lexical_diversity)
query("text_ngram_novelty", _ts.TEXT_NOVELTY_SQL)(_ts.text_ngram_novelty)
query("text_source_similarity", _ts.TEXT_SRC_SIM_SQL)(_ts.text_source_similarity)
query("text_lexical_rarity", _ts.TEXT_RARITY_SQL)(_ts.text_lexical_rarity)
query("pipeline_doc_scorecard", _ts._scorecard_sql())(_ts.pipeline_doc_scorecard)
query("text_langid_confusion", _ts.TEXT_LANGID_CONF_SQL)(_ts.text_langid_confusion)
query("pipeline_text_features_fused", _ts.PIPELINE_FUSED_SQL)(
    _ts.pipeline_text_features_fused
)
query("text_prefix_templates", _ts.TEXT_TEMPLATES_SQL)(_ts.text_prefix_templates)
query("sample_word_subsample", _ts.SAMPLE_SUBSAMPLE_SQL)(_ts.sample_word_subsample)
query("text_skipgram_pairs", _ts.TEXT_SKIPGRAM_SQL)(_ts.text_skipgram_pairs)
query("text_vocab_growth", _ts.TEXT_VOCAB_GROWTH_SQL)(_ts.text_vocab_growth)
query("text_zipf_profile", _ts.TEXT_ZIPF_SQL)(_ts.text_zipf_profile)
query("udtf_chunk_docs", _ts.UDTF_CHUNK_SQL)(_ts.udtf_chunk_docs)
query("text_normalize", _ts.TEXT_NORMALIZE_SQL)(_ts.text_normalize)
query("mm_binary_meta", _mm.MM_BINARY_META_SQL)(_mm.mm_binary_meta)
query("mm_feature_extract", _mm.MM_FEATURE_SQL)(_mm.mm_feature_extract)
query("mm_frame_sample", _mm.MM_FRAME_SAMPLE_SQL)(_mm.mm_frame_sample)
query("mm_scene_cut", _mm.MM_SCENE_CUT_SQL)(_mm.mm_scene_cut)
query("mm_resize", _mm.MM_RESIZE_SQL)(_mm.mm_resize)
query("mm_audio_chunk", _mm.MM_AUDIO_CHUNK_SQL)(_mm.mm_audio_chunk)
query("mm_phash_dedup", _mm.MM_PHASH_SQL)(_mm.mm_phash_dedup)
query("mm_shard_manifest", _mm.MM_SHARD_SQL)(_mm.mm_shard_manifest)
query("mm_byte_histogram", _mm.MM_BYTE_HIST_SQL)(_mm.mm_byte_histogram)

from .operators import curation as _cur  # noqa: E402

query("text_repetition_metrics", _cur.TEXT_REPETITION_SQL)(
    _cur.text_repetition_metrics
)
query("text_decontaminate", _cur.TEXT_DECONTAM_SQL)(_cur.text_decontaminate)
query("text_gopher_gates", _cur.TEXT_GOPHER_SQL)(_cur.text_gopher_gates)
query("pipeline_pretrain_corpus", _cur._pipe_sql())(
    _cur.pipeline_pretrain_corpus
)
query("text_pii_redact", _cur.TEXT_PII_SQL)(_cur.text_pii_redact)
query("ts_rollup_hierarchy", _cur.TS_ROLLUP_SQL)(_cur.ts_rollup_hierarchy)
query("pipeline_keep_best", _cur.PIPELINE_KEEP_BEST_SQL)(_cur.pipeline_keep_best)

from .operators import packing as _pk  # noqa: E402

query("pack_token_budget", _pk.PACK_SQL)(_pk.pack_token_budget)
query("sample_rebalance", _pk.REBALANCE_SQL)(_pk.sample_rebalance)
query("sample_temperature_mixture", _pk.SAMPLE_TEMPERATURE_SQL)(
    _pk.sample_temperature_mixture
)
query("sample_weighted", _pk.WEIGHTED_SQL)(_pk.sample_weighted)
query("sample_reservoir_group", _pk.RESERVOIR_SQL)(_pk.sample_reservoir_group)
query("sample_bootstrap_stats", _pk.SAMPLE_BOOTSTRAP_SQL)(_pk.sample_bootstrap_stats)
query("agg_pareto_8020", _pk.AGG_PARETO_SQL)(_pk.agg_pareto_8020)
query("pack_interleave_order", _pk.PACK_INTERLEAVE_SQL)(_pk.pack_interleave_order)
query("pack_epoch_shuffle", _pk.PACK_EPOCH_SQL)(_pk.pack_epoch_shuffle)
query("corpus_contrib_gini", _pk.CORPUS_GINI_SQL)(_pk.corpus_contrib_gini)
query("pack_length_buckets", _pk.PACK_LENGTH_SQL)(_pk.pack_length_buckets)
query("corpus_mixture_stats", _pk.MIXTURE_SQL)(_pk.corpus_mixture_stats)
query("text_chunk_overlap", _cur.TEXT_CHUNK_SQL)(_cur.text_chunk_overlap)
query("split_leakage_audit", _cur.SPLIT_LEAKAGE_SQL)(_cur.split_leakage_audit)
query("emb_dim_minmax", _sim.EMB_DIM_MINMAX_SQL)(_sim.emb_dim_minmax)

from .operators import auditing as _au  # noqa: E402

query("approx_median_hist", _au.APPROX_MEDIAN_SQL)(_au.approx_median_hist)
query("scd2_intervals", _au.SCD2_SQL)(_au.scd2_intervals)
query("dq_constraint_audit", _au.DQ_AUDIT_SQL)(_au.dq_constraint_audit)
query("dq_benford", _au.DQ_BENFORD_SQL)(_au.dq_benford)
query("layout_zorder_stats", _au.DQ_ZORDER_SQL)(_au.layout_zorder_stats)
query("dq_checksum_buckets", _au.DQ_CKSUM_SQL)(_au.dq_checksum_buckets)
query("dq_column_profile", _au.DQ_PROFILE_SQL)(_au.dq_column_profile)
query("dq_distribution_drift", _au.DQ_DRIFT_SQL)(_au.dq_distribution_drift)
query("fn_bloom_portable", _au.FN_BLOOM_SQL)(_au.fn_bloom_portable)
query("dq_ks_two_sample", _au.DQ_KS_SQL)(_au.dq_ks_two_sample)
query("dq_relationship_profile", _au.DQ_REL_PROFILE_SQL)(
    _au.dq_relationship_profile
)
query("privacy_kanon_cells", _au.PRIVACY_KANON_SQL)(_au.privacy_kanon_cells)
query("fn_rounding_audit", _au.FN_ROUNDING_SQL)(_au.fn_rounding_audit)
query("dq_pipeline_fingerprint", _au.DQ_MANIFEST_SQL)(
    _au.dq_pipeline_fingerprint
)
query("skew_key_profile", _au.SKEW_PROFILE_SQL)(_au.skew_key_profile)
query("json_key_inventory", _jsonf.JSON_KEY_INVENTORY_SQL)(_jsonf.json_key_inventory)
query("join_interval_overlap", _an.JOIN_INTERVAL_SQL)(_an.join_interval_overlap)
query("join_interval_grid", _an.JOIN_INTERVAL_GRID_SQL)(_an.join_interval_grid)
query("ts_ewma_recent", _an.TS_EWMA_SQL)(_an.ts_ewma_recent)
query("incremental_agg_merge", _an.INCREMENTAL_MERGE_SQL)(_an.incremental_agg_merge)
query("dq_day_over_day", _an.DQ_DOD_SQL)(_an.dq_day_over_day)
query("sample_group_holdout", _an.SAMPLE_GROUP_HOLDOUT_SQL)(
    _an.sample_group_holdout
)
query("fuzzy_pairs_symdelete", _cur.FUZZY_PAIRS_SQL)(_cur.fuzzy_pairs_symdelete)
query("curation_funnel_report", _cur.CURATION_FUNNEL_SQL)(
    _cur.curation_funnel_report
)
query("curation_threshold_sweep", _cur.CURATION_SWEEP_SQL)(
    _cur.curation_threshold_sweep
)

from .operators import graph as _gr  # noqa: E402

query("graph_pagerank_exact", _gr.GRAPH_PAGERANK_SQL)(_gr.graph_pagerank_exact)
query("graph_degree_histogram", _gr.GRAPH_DEGREE_SQL)(_gr.graph_degree_histogram)
query("graph_connected_components", _gr.GRAPH_CC_SQL)(
    _gr.graph_connected_components
)
query("graph_triangle_count", _gr.GRAPH_TRIANGLE_SQL)(_gr.graph_triangle_count)
query("graph_bfs_distances", _gr.GRAPH_BFS_SQL)(_gr.graph_bfs_distances)
query("graph_jaccard_neighbors", _gr.GRAPH_JACCARD_SQL)(_gr.graph_jaccard_neighbors)
# scale-safe twin: degree-capped re-symmetrized census; the exact wedge
# census above stays registered as its fixture-scale recall oracle
# (registered round 8)
query("graph_jaccard_capped", _gr.GRAPH_JACCARD_CAPPED_SQL)(_gr.graph_jaccard_capped)
query("graph_kcore", _gr.GRAPH_KCORE_SQL)(_gr.graph_kcore)
query("graph_degree_assortativity", _gr.GRAPH_ASSORT_SQL)(_gr.graph_degree_assortativity)
query("rec_copurchase_topk", _gr.REC_COPURCHASE_SQL)(_gr.rec_copurchase_topk)
query("rec_eval_metrics", _gr.REC_EVAL_SQL)(_gr.rec_eval_metrics)
query("rec_popularity_baseline", _gr.REC_POPULARITY_SQL)(
    _gr.rec_popularity_baseline
)

from .operators import featurize as _ft  # noqa: E402

query("feature_quantile_bins", _ft.FEATURE_BINS_SQL)(_ft.feature_quantile_bins)
query("feature_hash_vectorize", _ft.FEATURE_HASH_SQL)(_ft.feature_hash_vectorize)
query("feature_chi2_select", _ft.FEATURE_CHI2_SQL)(_ft.feature_chi2_select)
query("sample_cv_folds", _ft.SAMPLE_CV_SQL)(_ft.sample_cv_folds)
query("target_encode_oof", _ft.TARGET_ENCODE_SQL)(_ft.target_encode_oof)
query("approx_kmv_jaccard", _ft.KMV_JACCARD_SQL)(_ft.approx_kmv_jaccard)
query("approx_distinct_intersect", _ft.HLL_INTERSECT_SQL)(
    _ft.approx_distinct_intersect
)
query("ts_ohlc_bars", _an.TS_OHLC_SQL)(_an.ts_ohlc_bars)
query("attribution_last_touch", _an.ATTRIBUTION_SQL)(_an.attribution_last_touch)
query("ts_sliding_dau", _an.TS_SLIDING_DAU_SQL)(_an.ts_sliding_dau)
query("agg_regression_trend", _an.AGG_REGRESSION_SQL)(_an.agg_regression_trend)
query("join_asof_forward", _ft.JOIN_ASOF_FWD_SQL)(_ft.join_asof_forward)
query("join_asof_nearest", _ft.JOIN_ASOF_NEAR_SQL)(_ft.join_asof_nearest)
query("dq_freshness_sla", _ft.DQ_FRESHNESS_SQL)(_ft.dq_freshness_sla)


# --------------------------------------------------------------------------
# Structured Streaming surface (build plan M2/M3)
# --------------------------------------------------------------------------

from .streaming import pipelines as _sp  # noqa: E402
from .streaming import policies as _pol  # noqa: E402
from .streaming import state as _st  # noqa: E402

query("trigger_microbatch_2s", _pol.TRIGGER_2S_SQL)(_pol.trigger_microbatch_2s)
query("ckpt_state_dir", _pol.CKPT_STATE_SQL)(_pol.ckpt_state_dir)
query("stream_running_stats", _sp.STREAM_RUNNING_STATS_SQL)(_sp.stream_running_stats)
query("stream_windowed_wordcount", _sp.STREAM_WINDOWED_WORDCOUNT_SQL)(
    _sp.stream_windowed_wordcount
)
query("stream_static_join", _sp.STREAM_STATIC_JOIN_SQL)(_sp.stream_static_join)
query("stream_stream_join", _sp.STREAM_STREAM_JOIN_SQL)(_sp.stream_stream_join)
query("stream_batch_wordcount", _sp.STREAM_BATCH_WORDCOUNT_SQL)(
    _sp.stream_batch_wordcount
)
query("stream_session_window", _sp.STREAM_SESSION_SQL)(_sp.stream_session_window)
query("stream_sliding_window", _sp.STREAM_SLIDING_SQL)(_sp.stream_sliding_window)
query("stream_minute_rollup", _sp.STREAM_MINUTE_ROLLUP_SQL)(_sp.stream_minute_rollup)
query("stream_foreachbatch_upsert", _sp.STREAM_UPSERT_SQL)(_sp.stream_foreachbatch_upsert)
query("stream_cdc_apply", _sp.STREAM_CDC_SQL)(_sp.stream_cdc_apply)
query("stream_freshness_watermark", _ft.DQ_FRESHNESS_SQL)(
    _sp.stream_freshness_watermark
)
query("stream_hll_distinct", _sp.STREAM_HLL_SQL)(_sp.stream_hll_distinct)
query("stream_column_profile", _sp.STREAM_PROFILE_SQL)(_sp.stream_column_profile)
query("stream_pareto_front", _rel.SORT_PARETO_SQL)(_sp.stream_pareto_front)
query("stream_cms_topk", _an.CMS_SQL)(_sp.stream_cms_topk)
query("stream_kanon_cells", _au.PRIVACY_KANON_SQL)(_sp.stream_kanon_cells)
query("stream_dedup", _sp.STREAM_DEDUP_SQL)(_sp.stream_dedup)
query("stream_dedup_watermark", _sp.STREAM_DEDUP_WM_SQL)(_sp.stream_dedup_watermark)
query("stream_stream_left_join", _sp.STREAM_STREAM_LEFT_SQL)(
    _sp.stream_stream_left_join
)
query("stream_file_sink", _sp.STREAM_FILE_SINK_SQL)(_sp.stream_file_sink)
query("stream_progress_metrics", _sp.STREAM_PROGRESS_SQL)(
    _sp.stream_progress_metrics
)
query("stream_topk_complete", _sp.STREAM_TOPK_SQL)(_sp.stream_topk_complete)
query("stream_python_datasource", _sp.STREAM_PYSRC_SQL)(
    _sp.stream_python_datasource
)
query("stream_kafka_pipeline", _STREAM_KAFKA_SQL)(_sp.stream_kafka_pipeline)
query("stream_stats_exact_state", _st.STREAM_STATS_EXACT_SQL)(
    _st.stream_stats_exact_state
)
query("stream_stats_heartbeat", _st.STREAM_STATS_HEARTBEAT_SQL)(
    _st.stream_stats_heartbeat
)
# transformWithStateInPandas streams Arrow state through a protobuf
# channel; stream_stats_tws is registered UNCONDITIONALLY — where
# python-protobuf is absent it falls back internally to the
# applyInPandasWithState twin (same state algebra, same output), so
# the op can't silently vanish from queries() on a protobuf-less host.
query("stream_stats_tws", _st.STREAM_STATS_TWS_SQL)(_st.stream_stats_tws)
query("stream_sessionize_custom", _st.STREAM_SESSIONIZE_SQL)(
    _st.stream_sessionize_custom
)
query("stream_stats_rocksdb", _st.STREAM_STATS_ROCKSDB_SQL)(
    _st.stream_stats_rocksdb
)
query("stream_attribution_last_touch", _st.STREAM_ATTRIBUTION_SQL)(
    _st.stream_attribution_last_touch
)
query("stream_seq_pattern", _st.STREAM_SEQP_SQL)(_st.stream_seq_pattern)
query("stream_cusum_alarm", _st.STREAM_CUSUM_SQL)(_st.stream_cusum_alarm)
query("stream_transition_matrix", _st.STREAM_TRANS_SQL)(_st.stream_transition_matrix)
query("stream_new_user_monitor", _st.STREAM_NEWU_SQL)(_st.stream_new_user_monitor)
query("stream_user_360", _st.STREAM_U360_SQL)(_st.stream_user_360)
query("stream_ohlc_bars", _an.TS_OHLC_SQL)(_sp.stream_ohlc_bars)


#: Oracles that PARSE props keys whose kernels rely on Spark's JSON
#: parser — these get the parseable-props REPLACE in their events
#: shadow CTE (jsonf.PROPS_JSON_MAX_DEPTH, round-12 JSONNEST find: a
#: >1000-container props parses in DuckDB but not in Spark, so one
#: over-deep document silently diverged every extraction, key
#: inventory, and variant census). The OTHER props-reading oracles
#: (json_corrupt_policy, dq_column_profile, stream_column_profile,
#: src_file_formats, src_kafka_stream, proj_json_*) are deliberately
#: NOT listed: they either synthesize their own JSON from scalar
#: columns or their census semantics already agree on over-deep input
#: (probed green in scripts/jsonnest.py; pinned by the JSONNEST sweep).
_PARSEABLE_PROPS_ORACLES = {
    "fn_json_get_string",
    "fn_cast_string_double",
    "fn_variant_json",
    "json_key_inventory",
    "null_handling",
}


def _props_depth_sql() -> str:
    """DuckDB expression: JSON container-nesting depth of ``props`` —
    string-literal-safe (quoted strings, including escaped quotes, are
    stripped FIRST, so braces inside keys/values never count), then a
    single bracket scan whose (current, max) pair rides one BIGINT
    accumulator through list_reduce. Garbage non-JSON yields a garbage
    depth, which is harmless: every consumer also guards with
    json_valid. Verified against Spark's observed boundary (1000
    containers parse, 1001 fail) in scripts/jsonnest.py.

    The current-depth term saturates into [0, 500000] (ADVICE r12: a
    >=1,000,000-deep document — ~2 MB of brackets — overflowed the
    packed accumulator and could read back as depth <= 1000, silently
    KEEPING over-deep props the Spark side refuses to parse). The
    two-sided clamp is load-bearing: an upper clamp alone desyncs the
    close-bracket phase (true closer count > clamped opener count
    drives the packed current term negative and corrupts the max);
    with both bounds the depth reads exactly for documents <= 500000
    deep and saturates at 500000 — still far over
    PROPS_JSON_MAX_DEPTH, so over-deep stays dropped — beyond
    (validated in DuckDB at 1,000,001 and 1,500,000 deep)."""
    cur = "least(greatest((acc // 1000000) + x, 0), 500000)"
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
        "string_split_regex(regexp_replace(regexp_replace(props,"
        " '\"([^\"\\\\]|\\\\.)*\"', '', 'g'), '[^][{}]', '', 'g'), ''),"
        " c -> CASE WHEN c IN ('{','[') THEN CAST(1 AS BIGINT)"
        " WHEN c IN ('}',']') THEN CAST(-1 AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)),"
        f" (acc, x) -> {cur} * 1000000"
        f" + greatest(acc % 1000000, {cur})) % 1000000"
    )


#: Oracles of the identity-KEYED document operators (round-12 DOCKEY
#: probe): their kernels read via ``tables.load_documents_keyed``
#: (NULL doc_id dropped — a document without identity cannot be
#: deduped, fingerprinted, packed, sampled, manifested, or used as a
#: binary-payload key; left in, it ANSI-killed the mapInPandas decode
#: tier and silently diverged NULLS-ordering/NULL-group shapes), so
#: these oracles carry the matching ``doc_id IS NOT NULL`` shadow.
#: CONTENT-keyed document oracles are deliberately NOT here — the
#: DOCKEY sweep attests they agree on NULL ids without it.
_KEYED_DOCUMENTS_ORACLES = {
    # the binary tier: doc_id is the blob key (payloads())
    "mm_binary_meta",
    "mm_feature_extract",
    "mm_frame_sample",
    "mm_resize",
    "mm_audio_chunk",
    "mm_phash_dedup",
    "mm_scene_cut",
    "mm_shard_manifest",
    "mm_byte_histogram",
    # identity-keyed text/dedup/pack/sample ops
    "doc_winnowing",
    "dedup_index_tuning_report",   # derives from doc_winnowing
    "text_ngram_novelty",          # first-claim by MIN(doc_id)
    "text_vocab_growth",           # ordered by doc_id
    "sample_reservoir_group",      # emits sampled doc_ids
    "pack_interleave_order",       # position keyed on hash(doc_id)
    "pack_epoch_shuffle",          # ditto
    "text_chunk_overlap",          # chunk ids per doc
    "pipeline_dedup_filter",       # keep/drop decisions per doc_id
}


def _shadow_keyed_documents(sql: str) -> str:
    """Prepend a CTE shadowing ``documents`` with its identity-keyed
    projection (``tables.load_documents_keyed``): NULL ``doc_id`` rows
    dropped in both engines."""
    return prepend_cte(
        sql,
        "documents AS (SELECT * FROM main.documents"
        " WHERE doc_id IS NOT NULL)",
    )


def _shadow_finite_events(sql: str, shallow_props: bool = False) -> str:
    """Prepend a CTE shadowing the ``events`` view with the events
    ingest contract (``sources/tables.py clean_measurements``): a
    NaN/Inf ``value`` is a missing reading (NULL in both engines),
    and a row stamped outside the clock-validity window — or with a
    NULL ts — is not an analyzable event (dropped in both engines).
    Same mechanism as the embedding tier's
    ``_shadow_nonnull_embeddings`` (``main.events`` resolves the base
    view inside the shadowing CTE); applied mechanically to every
    oracle that references the events table, so the 150+ oracle
    bodies stay untouched. Identity at every real sf (all-finite,
    in-window fixture values)."""
    from .sources.tables import (
        EVENT_TS_VALID_MAX_US,
        EVENT_TS_VALID_MIN_US,
        EVENT_VALUE_ABS_MAX,
    )

    repl = (
        "CASE WHEN isfinite(value)"
        f" AND abs(value) <= {EVENT_VALUE_ABS_MAX!r}"
        " THEN value END AS value"
    )
    if shallow_props:
        # the parseable-props mirror (jsonf.PROPS_JSON_MAX_DEPTH):
        # over-deep props is NULL — exactly what every Spark JSON
        # function observes when Jackson refuses the parse
        from .functions.jsonf import PROPS_JSON_MAX_DEPTH

        repl += (
            f", CASE WHEN {_props_depth_sql()}"
            f" <= {PROPS_JSON_MAX_DEPTH} THEN props END AS props"
        )
    return prepend_cte(
        sql,
        f"events AS (SELECT * REPLACE ({repl}) FROM main.events"
        f" WHERE epoch_us(ts) >= {EVENT_TS_VALID_MIN_US}"
        f" AND epoch_us(ts) < {EVENT_TS_VALID_MAX_US})",
    )


def _apply_finite_events_shadow() -> None:
    import re

    for name, sql in list(ORACLES.items()):
        # \bevents\b: table references only (aliases like n_events have
        # no word boundary before the 'e'); a false positive inside a
        # string literal merely adds an unused CTE
        if re.search(r"\bevents\b", sql):
            ORACLES[name] = _shadow_finite_events(
                sql, shallow_props=name in _PARSEABLE_PROPS_ORACLES
            )
    for name in _KEYED_DOCUMENTS_ORACLES:
        if name in ORACLES:
            ORACLES[name] = _shadow_keyed_documents(ORACLES[name])
        else:  # a renamed query must fail loudly, not lose its shadow
            raise ValueError(
                f"_KEYED_DOCUMENTS_ORACLES names unknown oracle: {name}"
            )


_apply_finite_events_shadow()
