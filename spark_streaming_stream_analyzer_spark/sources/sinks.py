"""Batch sink surface: file-format writers with read-back verification.

The reference's only sink is a Kafka producer
(``kafka/KafkaProducer.java:52-54``) plus ``print()``; the rebuild adds
the lake-side writers any batch pipeline needs. The roundtrip operator
writes the flagship result as partitioned parquet and reads it back —
write path, partition layout, and read-back schema are all under oracle
test (the read-back must equal the in-memory aggregate byte-for-byte).

Scale: the write is ``partitionBy`` on the group key — the layout that
makes downstream key-filtered reads partition-prunable. Writer
parallelism follows the upstream partitioning; at 100 TB you tune file
count with ``coalesce``/``maxRecordsPerFile``, not by changing the
operator shape.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.stats import running_stats, stats_oracle_sql
from .tables import (
    PARTITION_KEY_MAX_BYTES,
    load_table,
    partitionable_key,
)


def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write per-key stats as parquet partitioned by key; read back.

    The returned frame is the *read-back*, so the oracle equality
    proves the writer preserved values and the partition columns
    survive the hive-style directory encoding (readTag_id becomes a
    partition directory, restored as a string column on read).

    Hive-encoding contract (round-9 groupkey sweep): an EMPTY-STRING
    partition value is unrepresentable in a directory name — Spark
    writes it to the default partition and reads it back as NULL, so
    '' and NULL keys are conflated BY THE FORMAT (whitespace and
    multibyte values survive via URL-escaping). The oracle mirrors
    with NULLIF(key, ''); a lake that must distinguish '' from NULL
    cannot partition on that column. Round-12 CATKEY extension: an
    OVER-LONG value (> PARTITION_KEY_MAX_BYTES UTF-8 bytes) would
    crash the write outright (directory-name length cap), so
    ``partitionable_key`` routes it to the same default partition; the
    oracle's octet_length CASE mirrors.
    """
    stats = running_stats(
        load_table(spark, sf_dir, "events"), "event_type", "value"
    ).withColumn("readTag_id", partitionable_key("readTag_id"))
    out_dir = os.path.join(tempfile.gettempdir(), f"sgs_sink_{uuid.uuid4().hex[:12]}")
    try:
        stats.write.partitionBy("readTag_id").parquet(out_dir)
        # explicit schema on read-back: an empty write leaves only
        # _SUCCESS, which schema inference cannot read (and at 100 TB
        # a lake reader should never infer anyway). Partition values
        # are parsed per the declared string type — identical to the
        # inferred read on non-empty data.
        back = spark.read.schema(stats.schema).parquet(out_dir)
        cols = ["readTag_id"] + [c for c in back.columns if c != "readTag_id"]
        pdf = back.select(*cols).toPandas()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(pdf, schema=stats.select(*cols).schema)


# The CASE mirrors the hive default-partition conflation of '' AND
# over-long values with NULL on the read-back key (see docstring);
# identity when every key is short and non-empty.
SINK_PARQUET_SQL = (
    "SELECT CASE WHEN octet_length(encode(readTag_id)) <= "
    + str(PARTITION_KEY_MAX_BYTES)
    + " THEN NULLIF(readTag_id, '') END AS readTag_id, summer, counter,"
    " sumsqr, bestmin, bestmax, mean, var FROM ("
    + stats_oracle_sql("events", "event_type", "value")
    + ") hive_encoded"
)


def src_file_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-format scan surface (SURVEY.md §2.2 row 1): the same events
    slice written to and read back from CSV (header + explicit schema)
    and JSON-lines, then aggregated per format; the parquet original is
    the third row. All three formats must agree exactly — scans,
    type-mapped schemas, and writers are all under one oracle.

    CSV/JSON carry doubles through decimal text: values on the 2-cent
    grid roundtrip exactly at the printed precision, and the aggregate
    is integer-cents, so text formats introduce no drift.

    The CSV leg pins the FAITHFUL configuration (round-9 groupkey
    sweep): Spark's CSV defaults silently corrupt string keys — the
    writer trims leading/trailing whitespace (' ' and 'click ' both
    land as 'click'-shaped keys) and the empty string is
    indistinguishable from NULL on read (nullValue='' both ways), so
    a default-config roundtrip lost 3 of 11 distinct keys. Writer:
    trimming OFF, NULL as an explicit sentinel ('\\N'), '' quoted
    (emptyValue='\"\"'); reader: the matching sentinel. This is the
    option set a production lake needs for text keys — measured to
    roundtrip '', ' ', trailing-space, NULL, and multibyte exactly.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = os.path.join(tempfile.gettempdir(), f"sgs_fmt_{uuid.uuid4().hex[:12]}")
    try:
        (
            ev.write.option("header", True)
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .option("nullValue", "\\N")
            .option("emptyValue", '""')
            .csv(os.path.join(base, "csv"))
        )
        ev.write.json(os.path.join(base, "json"))
        schema = "event_id long, user_id long, event_type string, value double"
        csv_df = (
            spark.read.schema(schema)
            .option("header", True)
            .option("nullValue", "\\N")
            .csv(os.path.join(base, "csv"))
        )
        json_df = spark.read.schema(schema).json(os.path.join(base, "json"))

        def agg(df: DataFrame, fmt: str) -> DataFrame:
            # GLOBAL aggregate + literal tag, not groupBy(lit): a
            # grouped aggregate over an empty scan emits no groups at
            # all, while the oracle's global-agg-cross-formats shape
            # always emits one row per format (n=0, NULL sum on an
            # empty corpus). Identical output on non-empty input.
            return df.agg(
                F.count("*").alias("n_rows"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
                F.countDistinct("event_type").alias("n_types"),
            ).select(
                F.lit(fmt).alias("fmt"), "n_rows", "sum_cents", "n_types"
            )

        out = (
            agg(ev, "parquet")
            .unionAll(agg(csv_df, "csv"))
            .unionAll(agg(json_df, "json"))
        )
        pdf = out.toPandas()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(pdf, schema=out.schema)


SRC_FILE_FORMATS_SQL = """
WITH base AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
         COUNT(DISTINCT event_type) AS n_types
  FROM events
)
SELECT fmt, n_rows, sum_cents, n_types
FROM base, (VALUES ('parquet'), ('csv'), ('json')) t(fmt)
"""


PYSRC_PARTS = 8
PYSRC_ROWS_PER_PART = 1000
PYSRC_TAGS = 5


def synth_reading(gid: int) -> tuple[str, float]:
    """The ONE synthetic (tag, reading) row formula — shared by this
    batch Python DataSource and the streaming
    ``SimpleDataSourceStreamReader`` twin
    (``streaming/pipelines._pystream_source``); both oracles assume
    the same function of the global row id, so a tweak to either copy
    would silently desynchronize the other pair."""
    return (f"tag{gid % PYSRC_TAGS}", float((gid * 37) % 1000) / 10.0)


def _synthetic_readings_source():
    """Build the custom DataSource class lazily (the datasource module
    import must not be a hard dependency of package import)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _Reader(DataSourceReader):
        def __init__(self, n_parts: int, rows_per_part: int):
            self.n_parts = n_parts
            self.rows_per_part = rows_per_part

        def partitions(self):
            return [InputPartition(i) for i in range(self.n_parts)]

        def read(self, partition):
            base = partition.value * self.rows_per_part
            for j in range(self.rows_per_part):
                gid = base + j
                yield synth_reading(gid)

    class SyntheticReadings(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synthetic_readings"

        def schema(self) -> str:
            return "tag string, reading double"

        def reader(self, schema):
            return _Reader(
                int(self.options.get("partitions", PYSRC_PARTS)),
                int(self.options.get("rowsperpartition", PYSRC_ROWS_PER_PART)),
            )

    return SyntheticReadings


def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom source via Spark 4's Python DataSource API — the
    pluggable-connector surface (what a bespoke feed becomes when no
    built-in format fits). The source plans its own InputPartitions,
    so the scan is executor-parallel like any file source; rows are
    the reference's BMS sensor-reading shape (tag, numeric reading —
    ``KafkaStreamAverageCalculator.java:201-215``'s payload) generated
    deterministically from the partition-global row id, aggregated by
    the flagship per-tag rollup. The oracle regenerates the same rows
    with integer arithmetic in SQL.

    ``sf_dir`` is unused: the source IS the data — the point of the
    API."""
    spark.dataSource.register(_synthetic_readings_source())
    df = (
        spark.read.format("synthetic_readings")
        .option("partitions", PYSRC_PARTS)
        .option("rowsperpartition", PYSRC_ROWS_PER_PART)
        .load()
    )
    return df.groupBy("tag").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("reading") * 100).cast("long")).alias("sum_cents"),
        F.min("reading").alias("min_reading"),
        F.max("reading").alias("max_reading"),
    )


SRC_PYSRC_SQL = f"""
WITH g AS (
  SELECT unnest(range(0, {PYSRC_PARTS * PYSRC_ROWS_PER_PART})) AS gid
),
rows_ AS (
  SELECT 'tag' || CAST(gid % {PYSRC_TAGS} AS VARCHAR) AS tag,
         CAST((gid * 37) % 1000 AS DOUBLE) / 10.0 AS reading
  FROM g
)
SELECT tag, COUNT(*) AS n,
       CAST(SUM(CAST(round(reading*100) AS BIGINT)) AS BIGINT) AS sum_cents,
       MIN(reading) AS min_reading, MAX(reading) AS max_reading
FROM rows_ GROUP BY tag
"""


def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction drill — the lakehouse maintenance job a
    100 TB table needs continuously: a fragmented write (16-way
    round-robin → 16 part files) compacted by a coalesced rewrite
    (2 part files), with the read-back aggregate proving the rewrite
    lost nothing. ``coalesce`` narrows partitions WITHOUT a shuffle —
    the whole compaction is one read + one write.

    The returned frame is the post-compaction read-back rollup (hash-
    exact vs the oracle); the file-count reduction itself is pinned in
    tests/test_sources_sinks-style pytest (file counts are layout,
    not data, so they stay out of the oracle row).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = os.path.join(
        tempfile.gettempdir(), f"sgs_compact_{uuid.uuid4().hex[:12]}"
    )
    frag, compact = os.path.join(base, "frag"), os.path.join(base, "compact")
    try:
        ev.repartition(16).write.parquet(frag)
        spark.read.parquet(frag).coalesce(2).write.parquet(compact)
        back = spark.read.parquet(compact)
        agg = back.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        pdf = agg.toPandas()
        n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
        n_comp = len([f for f in os.listdir(compact) if f.endswith(".parquet")])
    finally:
        shutil.rmtree(base, ignore_errors=True)
    out = spark.createDataFrame(pdf, schema=agg.schema)
    # stash layout facts for tests without polluting the oracle row
    sink_compaction.last_file_counts = (n_frag, n_comp)  # type: ignore[attr-defined]
    return out


SINK_COMPACTION_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 100.0 AS sum_value
FROM events GROUP BY event_type
"""


def obs_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight pipeline observability via Spark's Observation API:
    ingest-stage and post-filter row/value metrics ride the SAME pass
    as the downstream aggregate — ``df.observe`` attaches accumulator
    metrics to the plan, so data-quality counters cost ZERO extra
    scans (the production alternative to re-running COUNT(*) audits).

    The observed (stage, n, sum) rows are what a monitoring table
    ingests; values are exact integer cents, so the driver compare is
    hash-exact against the oracle's two plain aggregates.
    """
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    obs_in = Observation("ingest")
    obs_kept = Observation("kept")
    staged = ev.observe(
        obs_in,
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("sum_cents"),
    )
    kept = staged.filter(F.col("value") > 0).observe(
        obs_kept,
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("sum_cents"),
    )
    # the action that flows the data (and fills the observations) is
    # the pipeline's real aggregate, not an extra count
    kept.groupBy("event_type").agg(F.count("*")).collect()

    def _cents_or_none(v):
        # SUM over zero observed rows is NULL — keep it NULL (the
        # oracle's semantics), don't coerce to 0.0
        return v / 100.0 if v is not None else None

    try:
        rows = [
            ("ingest", obs_in.get["n"], _cents_or_none(obs_in.get["sum_cents"])),
            ("kept", obs_kept.get["n"], _cents_or_none(obs_kept.get["sum_cents"])),
        ]
    except Exception:
        # PySpark's Observation.get trips an internal toPyRow assertion
        # when the observed plan scanned ZERO rows (hit by the
        # empty-corpus sweep, round 7). The metrics are well-defined —
        # n=0, NULL sum — so fall back to computing the same two
        # aggregates directly; on any non-empty input .get succeeds and
        # this branch never runs.
        def _direct(df):
            r = df.agg(
                F.count(F.lit(1)).alias("n"), F.sum(cents).alias("s")
            ).collect()[0]
            return r["n"], _cents_or_none(r["s"])

        rows = [
            ("ingest", *_direct(ev)),
            ("kept", *_direct(ev.filter(F.col("value") > 0))),
        ]
    return spark.createDataFrame(
        rows, schema="stage string, n_rows long, sum_value double"
    )


OBS_METRICS_SQL = """
SELECT 'ingest' AS stage, COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 100.0 AS sum_value
FROM events
UNION ALL
SELECT 'kept', COUNT(*),
       CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 100.0
FROM events WHERE value > 0
"""


def src_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan (mergeSchema): two parquet vintages of the
    event stream — an old one written BEFORE the ``event_type`` column
    existed (even event_ids) and a new one with it (odd event_ids) —
    read together with ``mergeSchema=true``, which unions the footers
    and null-fills the missing column. The per-type rollup labels the
    pre-schema rows explicitly. This is the drill every long-lived
    lake table goes through when a column is added mid-stream.

    Scale: schema merge is a footer-only operation (no data rewrite);
    the scan stays partition-parallel and the aggregate partial/final.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    base = os.path.join(
        tempfile.gettempdir(), f"sgs_drift_{uuid.uuid4().hex[:12]}"
    )
    v1, v2 = os.path.join(base, "v1"), os.path.join(base, "v2")
    try:
        ev.filter(F.col("event_id") % 2 == 0).select("event_id", "c").write.parquet(v1)
        ev.filter(F.col("event_id") % 2 == 1).write.parquet(v2)
        merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
        agg = (
            merged.groupBy(
                F.coalesce("event_type", F.lit("<pre-schema>")).alias("event_type")
            )
            .agg(
                F.count("*").alias("n_events"),
                (F.sum("c").cast("double") / F.lit(100.0)).alias("sum_value"),
            )
        )
        pdf = agg.toPandas()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(pdf, schema=agg.schema)


SRC_SCHEMA_DRIFT_SQL = """
SELECT COALESCE(CASE WHEN event_id % 2 = 1 THEN event_type END,
                '<pre-schema>') AS event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 100.0 AS sum_value
FROM events GROUP BY 1
"""


def src_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned lake read: events written to parquet
    partitioned by event_type, read back with a partition-key filter.
    The point is the PLAN — the filter lands as PartitionFilters, so
    only 2 of 5 directories are listed/read (asserted in
    tests/test_plans.py); at 100 TB this is the difference between
    scanning 40 TB and scanning the whole lake. Values are re-aggreated
    exactly to prove the roundtrip loses nothing."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        # over-long partition values crash the write (CATKEY, r12);
        # route them to the default partition — the downstream IN
        # filter never selects them, so the oracle needs no mirror
        partitionable_key("event_type").alias("event_type"),
        "value",
    )
    out = os.path.join(tempfile.gettempdir(), f"sgs_prune_{uuid.uuid4().hex[:12]}")
    try:
        ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
        # explicit schema: an empty write has no footer to infer from
        # (and declared schemas are the 100 TB norm); pruning behavior
        # and values are unchanged on non-empty data
        back = spark.read.schema(ev.schema).parquet(out).filter(
            F.col("event_type").isin("click", "error")
        )
        agg = back.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        pdf = agg.toPandas()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(pdf, schema=agg.schema)


SRC_PARTITION_PRUNE_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events WHERE event_type IN ('click', 'error')
GROUP BY 1
"""


# -------------------------------------------- Python DataSource sink --


def _audited_jsonl_sink():
    """Custom Python DataSourceWriter (built lazily, like the reader
    twin ``_synthetic_readings_source``): JSON-lines files with a
    two-phase commit — tasks write partition files and return audit
    commit messages (file, row count, checksum-sum); the driver-side
    ``commit()`` writes a _MANIFEST only after every task reported, so
    a half-failed write leaves no manifest and readers see nothing
    (the atomicity contract a real object-store sink implements)."""
    import json as _json

    from dataclasses import dataclass

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    @dataclass
    class _Msg(WriterCommitMessage):
        file: str
        n_rows: int
        sum_cents: int

    class _Writer(DataSourceWriter):
        def __init__(self, path: str):
            self.path = path

        def write(self, iterator):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            fname = f"part-{pid:05d}.jsonl"
            n = 0
            sc = 0
            with open(os.path.join(self.path, fname), "w") as f:
                for row in iterator:
                    f.write(
                        _json.dumps(
                            {
                                "event_type": row.event_type,
                                "n": row.n,
                                "sum_cents": row.sum_cents,
                            }
                        )
                        + "\n"
                    )
                    n += 1
                    # a key whose every measurement is missing rolls up
                    # to a NULL sum — written faithfully as JSON null,
                    # skipped in the audit total exactly like the
                    # read-back's pandas sum (round-9 zero-variance
                    # sweep: += None killed the whole write job)
                    if row.sum_cents is not None:
                        sc += row.sum_cents
            return _Msg(file=fname, n_rows=n, sum_cents=sc)

        def commit(self, messages):
            manifest = {
                "files": sorted(m.file for m in messages if m is not None),
                "total_rows": sum(m.n_rows for m in messages if m is not None),
                "total_sum_cents": sum(
                    m.sum_cents for m in messages if m is not None
                ),
            }
            with open(os.path.join(self.path, "_MANIFEST"), "w") as f:
                _json.dump(manifest, f)

        def abort(self, messages):
            for m in messages:
                if m is not None:
                    try:
                        os.remove(os.path.join(self.path, m.file))
                    except OSError:
                        pass

    class AuditedJsonl(DataSource):
        @classmethod
        def name(cls) -> str:
            return "audited_jsonl"

        def writer(self, schema, overwrite: bool):
            return _Writer(self.options["path"])

    return AuditedJsonl


@contextmanager
def _active(spark: SparkSession):
    """Make ``spark`` the JVM thread's active session for the block.
    ``DataFrameWriter.save()`` looks a Python data source up on the
    active session, not on the frame's own, and an op's
    ``op_session`` child is not active."""
    jss = spark._jvm.org.apache.spark.sql.SparkSession
    prev = jss.getActiveSession()
    jss.setActiveSession(spark._jsparkSession)
    try:
        yield
    finally:
        if prev.isDefined():
            jss.setActiveSession(prev.get())
        else:
            jss.clearActiveSession()


def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via Spark 4's Python DataSource writer API — the
    write-side twin of ``src_python_datasource``: the flagship per-type
    rollup is written through the audited JSON-lines sink (task files +
    manifest two-phase commit), then read back FROM the manifest's file
    list and re-validated — so the oracle equality proves the entire
    write→commit→read cycle preserved every value, and the manifest's
    own totals are cross-checked against the read rows.

    Writer parallelism follows the upstream partitioning exactly like
    a JVM sink; commit is one driver-side metadata write (no data moves
    through the driver)."""
    spark.dataSource.register(_audited_jsonl_sink())
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )
    out_dir = os.path.join(tempfile.gettempdir(), f"sgs_pysink_{uuid.uuid4().hex[:12]}")
    os.makedirs(out_dir)
    try:
        with _active(spark):
            agg.write.format("audited_jsonl").option("path", out_dir).mode(
                "append"
            ).save()
        import json as _json

        with open(os.path.join(out_dir, "_MANIFEST")) as f:
            manifest = _json.load(f)
        paths = [os.path.join(out_dir, fn) for fn in manifest["files"]]
        back = spark.read.schema("event_type string, n long, sum_cents long").json(
            paths
        )
        pdf = back.toPandas()
        if int(pdf["n"].count()) != len(pdf) or len(pdf) != manifest["total_rows"]:
            raise AssertionError("manifest/read-back row mismatch")
        if int(pdf["sum_cents"].sum()) != manifest["total_sum_cents"]:
            raise AssertionError("manifest/read-back checksum mismatch")
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(pdf, schema="event_type string, n long, sum_cents long")


SINK_PYSINK_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
"""


# -------------------------------------------------- binaryFile source --

BINFILE_DOCS = 20


def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` ingest source — how image/audio/video blobs
    enter a multimodal pipeline as (path, length, content) rows before
    the ``operators/multimodal.py`` decode tier. A bounded staging set
    (the first BINFILE_DOCS documents' UTF-8 bytes, one file each) is
    read back through the format; the query re-derives doc_id from the
    file name and fingerprints the content, and the oracle recomputes
    length+sha from the source table — proving the source preserved
    every byte.

    Scale: binaryFile scans parallelize per-file and push
    ``pathGlobFilter``/recursive lookups into the listing; content is
    one column — never project it unless the kernel needs the bytes.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BINFILE_DOCS)
        .select("doc_id", "text")
        .collect()
    )
    d = os.path.join(tempfile.gettempdir(), f"sgs_bin_{uuid.uuid4().hex[:12]}")
    os.makedirs(d)
    try:
        for r in docs:
            if r["text"] is None:
                continue  # a missing blob stages no file (oracle WHERE)
            with open(os.path.join(d, f"doc_{r['doc_id']}.bin"), "wb") as f:
                f.write(r["text"].encode("utf-8"))
        df = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(d)
        )
        out = df.select(
            # -? : negative doc_ids are valid identities; without it the
            # regexp misses doc_-11.bin, extracts '', and the ANSI cast
            # kills the job on ONE negative-id document (DOCKEY, r12)
            F.regexp_extract(F.col("path"), r"doc_(-?\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.sha2("content", 256).alias("sha256"),
        )
        pdf = out.toPandas()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        pdf, schema="doc_id long, n_bytes long, sha256 string"
    )


SRC_BINFILE_SQL = f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents WHERE doc_id < {BINFILE_DOCS} AND text IS NOT NULL
"""
