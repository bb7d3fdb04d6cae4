"""Batch table sources over the driver-generated parquet fixtures.

The reference's only source is a receiver-based Kafka 0.8 DStream
(``KafkaStreamAverageCalculator.java:66-67``). The rebuild's batch
stand-in (SURVEY.md §2.1 #1 ``src_kafka_stream``) is a parquet scan of
the ``events`` table, whose ``props`` JSON-string column plays the role
of the Kafka record value. Streaming sources live in
``streaming/pipelines.py``.

Parquet scans here are where Catalyst pushdown lands: any filter /
column selection applied by downstream operators reaches the scan as
``PushedFilters`` / pruned ``ReadSchema`` — verified in
``tests/test_plans.py``.

Each parquet source is resolved once per process, as Structured
Streaming's file source takes its schema up front rather than inferring
it per query. ``parquet_schema`` keeps the schema that Spark inferred
on the first read, and ``load_table`` reads with
``spark.read.schema(cached)``, so a warm load launches no inference
job; ``load_table_cpu`` keeps the scan's split count, so it decides on
a repartition without planning the scan again. The cache is
process-local and bounded (``_RESOLVED_MAX`` entries, least recently
used dropped first). Its key is the source's footprint, each file's
real path, size, ``mtime_ns`` and a hash of its parquet footer (read
from the file's tail in Python, no Spark job), plus the session confs
that change the answer: ``_INFER_CONFS`` for the schema;
``defaultParallelism`` and ``_SPLIT_CONFS`` for the split count. A
rewritten file, a file added to or removed from a directory source, or
a changed conf therefore misses. A source whose inference fails (a
TIMESTAMP(NANOS) column: ``PARQUET_TYPE_ILLEGAL``) is never cached and
fails on every read; one that cannot be stamped locally (a missing
path, a remote filesystem) is read uncached, as Spark reads it.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Session confs that change what parquet schema inference returns.
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
)
#: Session confs that, with ``defaultParallelism``, size a file scan's
#: splits (``FilePartition.maxSplitBytes``).
_SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionNum",
    "spark.sql.leafNodeDefaultParallelism",
)
_RESOLVED_MAX = 256
_resolved: OrderedDict[tuple, object] = OrderedDict()
_resolved_lock = threading.Lock()


def _file_stamp(path: str) -> tuple:
    """(path, size, mtime_ns, footer hash) of one file. The footer is
    the parquet tail: its length in the 4 bytes before the closing
    ``PAR1`` magic. A file without that tail hashes as empty."""
    with open(path, "rb") as f:
        st = os.fstat(f.fileno())
        footer = b""
        if st.st_size >= 12:
            f.seek(-8, os.SEEK_END)
            tail = f.read(8)
            n = int.from_bytes(tail[:4], "little")
            if tail[4:] == b"PAR1" and n <= st.st_size - 12:
                f.seek(-8 - n, os.SEEK_END)
                footer = f.read(n)
    digest = hashlib.blake2b(footer, digest_size=16).digest()
    return path, st.st_size, st.st_mtime_ns, digest


def _footprint(path: str) -> tuple:
    """The stamps of every file of a parquet source: the file itself,
    or each file under a directory. Raises ``OSError`` on a path that
    is not a local file or directory."""
    real = os.path.realpath(path)
    if not os.path.isdir(real):
        return (_file_stamp(real),)
    return tuple(
        _file_stamp(os.path.join(root, f))
        for root, _, files in sorted(os.walk(real))
        for f in sorted(files)
    )


def _confs(spark: SparkSession, keys: tuple[str, ...]) -> tuple:
    return tuple(spark.conf.get(k, None) for k in keys)


def _resolve(path: str, key: tuple, compute: Callable[[], object]) -> object:
    """``compute()`` for the parquet source ``path``, cached under its
    footprint and ``key`` (the confs and settings the answer depends
    on). A ``compute`` that raises caches nothing; a path that cannot
    be stamped is computed uncached."""
    try:
        key = (_footprint(path), key)
    except OSError:
        return compute()
    with _resolved_lock:
        if key in _resolved:
            _resolved.move_to_end(key)
            return _resolved[key]
    value = compute()
    with _resolved_lock:
        _resolved[key] = value
        while len(_resolved) > _RESOLVED_MAX:
            _resolved.popitem(last=False)
    return value


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet source ``path`` under
    ``spark``'s inference confs (``_INFER_CONFS``), inferred once per
    footprint (see the module docstring)."""
    return _resolve(
        path,
        ("schema", _confs(spark, _INFER_CONFS)),
        lambda: spark.read.parquet(path).schema,
    )


def _table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The fixture table ``name`` of ``sf_dir``; ``events`` through
    its ingest contract (``clean_measurements``). The schema comes
    from ``parquet_schema``: inferred on the first load of the file and
    reused until the file's path, size, ``mtime_ns`` or footer hash, or
    the session's parquet inference confs (``_INFER_CONFS``), change."""
    path = _table_path(sf_dir, name)
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = clean_measurements(df)
    return df


#: Ingest clock-validity window for events, epoch-microseconds UTC:
#: [1990-01-01, 2100-01-01). A reading stamped outside it (a 1969
#: zeroed clock, a year-2200 overflow) is an invalid RECORD, dropped
#: at load in both engines. Beyond correctness, this bounds the grid
#: ops: one corrupt far-future timestamp otherwise inflates an hourly
#: resample/calendar grid by ~60,000x (measured: ts_resample_interp
#: ground through a 2-million-hour grid minted by a single
#: 2200-dated row — the round-8 TIME sweep's job-killer finding).
EVENT_TS_VALID_MIN_US = 631_152_000_000_000
EVENT_TS_VALID_MAX_US = 4_102_444_800_000_000

#: Measurement-magnitude validity bound: |value| <= 1e6 units. The
#: domain twin of the clock-validity window: fixture measurements span
#: [0, ~560], so a reading beyond a MILLION units is sensor garbage
#: (~1800x headroom over real data), exactly as a 2200-dated row is a
#: corrupt clock. The bound is sized so every registered integer-exact
#: kernel keeps >=20x headroom at the cap with whole groups sitting on
#: it: cents (1e8) and their squares (1e16, int64-backed DECIMAL(18)
#: products), 4th moments (1e32 vs HUGEINT's 1.7e38 — the binding
#: constraint: a value near 2^53/100 mints cents^4 ~ 6.6e63, beyond ANY
#: exact type in either engine), and micro-unit cumsums (1e12/row vs
#: int64 windows). Residual envelope (self-review r9): an ALL-CAP
#: group still overflows the HUGEINT 4th-moment sum beyond ~1.7e6
#: rows (1e32 x 1.7e6 = 1.7e38); at the real measurement scale
#: (cents^4 ~ 1e19) the same sum holds to ~1e19-row groups — see
#: higher_moments' docstring. This closes the round-9 adversarial-float crash
#: class: a finite value near ±2^63/100 made round(v*100)::BIGINT
#: overflow in BOTH engines (ANSI CAST_OVERFLOW / DuckDB conversion
#: error — one absurd row killing the job, the same shape as the
#: round-8 NaN and corrupt-clock finds). The comparison is on the RAW
#: double against this literal in both engines (never on v*100), so
#: the cut is bit-identical engine-to-engine.
EVENT_VALUE_ABS_MAX = 1_000_000.0


def clean_measurements(df: DataFrame) -> DataFrame:
    """The events ingest contract, one edit point shared by every
    consumer (batch ``load_table``, streaming ``events_file_stream``,
    the checkpoint pipeline's direct read). Two clauses:

    - **finite measurement** (round-8 NaN/Inf sweep): a non-finite
      ``value`` (NaN / ±Inf — broken sensor, JSON "Infinity") is a
      MISSING reading, i.e. NULL. Without this, one NaN in 100 TB
      kills every exact-cents job in both engines (Spark ANSI
      CAST_OVERFLOW on round(NaN*100)::BIGINT; DuckDB the same cast
      error) — 64 of 327 registered queries crashed on a NaN/Inf
      fixture. NULLing keeps row counts and event sequences intact
      and converts the class to the already-hardened NULL-value
      regime. Round 9 extends the same clause to magnitude: a finite
      value beyond ``EVENT_VALUE_ABS_MAX`` (±1e6 units — sensor
      garbage by domain, and on the way to the ±2^63/100 CAST
      overflow that kills both engines) is equally a missing
      reading.
    - **valid clock** (round-8 TIME sweep): a row stamped outside
      [``EVENT_TS_VALID_MIN_US``, ``EVENT_TS_VALID_MAX_US``) — or
      with no timestamp at all — is not an analyzable event and is
      DROPPED. A time-series engine keys everything on ts; garbage
      clocks both diverge the engines (giant hour indices push the
      exact OLS into last-ulp float territory) and DoS the calendar
      grids (see the constant's docstring).

    The DuckDB oracles carry the identical contract via a mechanical
    shadow CTE (``registry._shadow_finite_events``). At every real sf
    the fixture is all-finite and in-window, so this is an identity.
    """
    if "ts" in df.columns:
        # Compare the RAW column against literals so the window reaches
        # the parquet scan as PushedFilters (the round-9 guard A/B
        # measured the unwrapped form at ~18% of the flagship's wall;
        # `unix_micros(cast(ts))` blocked pushdown and paid a per-row
        # conversion). The boundaries equal the epoch-us constants:
        # every op runs on a UTC session, through which an instant
        # (`timestamp`) column coerces the NTZ literals.
        df = df.filter(
            (F.col("ts") >= F.expr("TIMESTAMP_NTZ '1990-01-01 00:00:00'"))
            & (F.col("ts") < F.expr("TIMESTAMP_NTZ '2100-01-01 00:00:00'"))
        )
    if "value" not in df.columns:
        return df
    c = F.col("value")
    finite = (
        ~F.isnan(c)
        & (c != F.lit(float("inf")))
        & (c != F.lit(float("-inf")))
        # magnitude validity: see EVENT_VALUE_ABS_MAX (round 9)
        & (F.abs(c) <= F.lit(EVENT_VALUE_ABS_MAX))
    )
    return df.withColumn("value", F.when(finite, c))


def prepend_cte(sql: str, cte: str) -> str:
    """Make ``cte`` the first CTE of the DuckDB oracle ``sql``, merged
    into its own ``WITH`` / ``WITH RECURSIVE`` when it has one: the one
    splice of the oracle shadows that mirror this module's ingest
    contracts (``registry._shadow_finite_events``,
    ``registry._shadow_keyed_documents``,
    ``similarity._shadow_nonnull_embeddings``). Leading ``-- ...``
    comment lines are kept ahead of it and skipped for the prefix
    checks: a comment-prefixed ``WITH x AS ...`` oracle would otherwise
    miss the startswith and get a second WITH injected ahead of it
    (hard binder error; round-8 review)."""
    lines = sql.lstrip().splitlines()
    head = []
    while lines and lines[0].lstrip().startswith("--"):
        head.append(lines.pop(0))
    s = "\n".join(lines).lstrip()
    prefix = ("\n".join(head) + "\n") if head else ""
    if s.upper().startswith("WITH RECURSIVE"):
        return (
            prefix + "WITH RECURSIVE " + cte + ", "
            + s[len("WITH RECURSIVE"):].lstrip()
        )
    if s.upper().startswith("WITH"):
        return prefix + "WITH " + cte + ", " + s[len("WITH"):].lstrip()
    return prefix + "WITH " + cte + " " + s


def ts_timestamp(col: str = "ts") -> Column:
    """A timestamp[us] column (read as TIMESTAMP_NTZ) as a TIMESTAMP,
    cast through the session timezone, which ``op_session`` pins to
    UTC."""
    return F.col(col).cast("timestamp")


def ts_micros(col: str = "ts") -> Column:
    """A timestamp column as bigint epoch-microseconds: the integer
    form every exact-arithmetic operator and the DuckDB oracle's
    ``epoch_us(ts)`` agree on."""
    return F.unix_micros(ts_timestamp(col))


def load_table_cpu(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table for a CPU-heavy per-row stage (md5 shingling,
    tokenization, Pandas-UDF decode), guaranteeing the scan has at
    least ``defaultParallelism`` partitions.

    A CPU-bound stage must never have fewer partitions than cores. The
    local fixtures are single parquet files with one row group, which
    the reader cannot split — so e.g. ``documents`` (500 KB) arrives as
    ONE partition and a shingling pass runs on 1 of 32 cores. A
    round-robin repartition of the raw rows is a trivially cheap
    shuffle (input ≪ the per-row compute it unlocks) and is a no-op
    decision on a real 100 TB layout where file count already exceeds
    core count — there the scan arrives with ample partitions and we
    skip the repartition entirely.

    The scan's split count is planned once and kept, keyed like
    ``load_table``'s schema by the file's footprint, plus
    ``defaultParallelism`` and the split-size confs (``_SPLIT_CONFS``):
    a rewritten file or a changed core count or split size plans again.
    """
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    splits = _resolve(
        _table_path(sf_dir, name),
        ("splits", target, _confs(spark, _SPLIT_CONFS)),
        lambda: df.rdd.getNumPartitions(),
    )
    if splits < target:
        df = df.repartition(target)
    return df


#: Hive-partitioned-write key-length contract (round-12 CATKEY probe):
#: a partition VALUE is spelled into a directory name
#: (``key=<url-escaped value>``), and common filesystems cap a path
#: segment at 255 bytes — one 10,000-char category value crashed every
#: partitionBy writer in the repo (TASK_WRITE_FAILED mid-job: the
#: one-hostile-row DoS shape yet again, this time in the LAYOUT tier).
#: A value whose UTF-8 encoding exceeds this cap is UNPARTITIONABLE
#: and is routed to the hive default (null) partition before the
#: write — the same observable the format already imposes on the
#: empty string (round-9 groupkey sweep: '' is unrepresentable as a
#: directory and reads back NULL). 80 bytes leaves margin for the
#: ``key=`` prefix plus full %XX URL-escaping (3x worst case: 80*3+11
#: = 251 < 255). Oracles mirror with
#: ``CASE WHEN octet_length(k) <= 80 THEN NULLIF(k, '') END``.
PARTITION_KEY_MAX_BYTES = 80


def partitionable_key(col: str) -> Column:
    """The partition-key projection every ``partitionBy`` writer uses:
    over-long values (see ``PARTITION_KEY_MAX_BYTES``) become NULL and
    land in the hive default partition instead of crashing the write."""
    c = F.col(col)
    return F.when(F.octet_length(c) <= PARTITION_KEY_MAX_BYTES, c)


#: Byte cap for FORCED broadcasts of tables whose cardinality grows
#: with the corpus/fact data (vocab rank dictionaries, per-doc size
#: tables, per-node degree tables). A forced ``F.broadcast`` hint
#: bypasses the session's 64 MB auto threshold, so at 100 TB an
#: unconditional hint on a vocab-derived table is a driver/executor
#: OOM (guide §3.1/§5 — VERDICT r13 item 4). The gate bounds the
#: broadcast by the DERIVING SOURCE's on-disk bytes: every row of such
#: a derived table embeds at least one distinct token / doc id / node
#: key present in the source, so |derived| is within a small constant
#: of |source bytes|. 64 MB of compressed parquet keeps the worst-case
#: derived table in the low hundreds of MB — far under the 8 GB /
#: 512M-row broadcast hard cap. Driver-side file metadata only: the
#: gate costs no Spark job, no extra action (the KCORE_BCAST_CAP
#: discipline without a count). The local fixtures (<11 MB) sit far
#: under the cap, so local plans keep the exact same BroadcastHashJoins.
BCAST_SRC_CAP_BYTES = 64 << 20


def _source_bytes(sf_dir: str, table: str) -> int:
    path = _table_path(sf_dir, table)
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
        return os.path.getsize(path)
    except OSError:
        # unknown layout -> refuse the forced hint; the planner/AQE
        # still converts to broadcast at runtime if genuinely small
        return 1 << 62


def bcast_gated(df: DataFrame, sf_dir: str, table: str = "documents"):
    """``F.broadcast(df)`` gated on the deriving source table's bytes
    (see ``BCAST_SRC_CAP_BYTES``). Over the cap the hint is dropped and
    the join falls back to the planner's choice (sort-merge / shuffled
    hash, or AQE's runtime broadcast conversion when the table turns
    out small) instead of force-building an unbounded hash relation."""
    if _source_bytes(sf_dir, table) <= BCAST_SRC_CAP_BYTES:
        return F.broadcast(df)
    return df


def load_documents_keyed(
    spark: SparkSession, sf_dir: str, cpu: bool = True
) -> DataFrame:
    """Documents with REQUIRED identity: rows with a NULL ``doc_id``
    are dropped (round-12 DOCKEY probe). The identity-KEYED operators
    — dedup keep/filter, winnowing fingerprints, novelty first-claim,
    pack positions, reservoir samples, shard manifests, the binary
    tier's payload keys — emit or join on ``doc_id``; a document
    without identity is unaddressable there, and leaving it in either
    ANSI-killed the kernel (``int(None)`` in the mapInPandas decode
    tier) or silently diverged the engines (NULLS FIRST/LAST ordering,
    NULL-group merges). Oracles of exactly those operators carry the
    mirror (``registry._shadow_keyed_documents``). Content-keyed ops
    (quality scores, language ID, token counts, TF-IDF...) do NOT use
    this loader — a NULL-id document still has analyzable text, and
    their parity on NULL ids is attested by the DOCKEY sweep. NULL-id
    drop is observable via dq_constraint_audit-style profiling, and a
    no-op on every real fixture (ids are dense there).

    Negative and near-int64-max ids are VALID identities (attested 0
    divergence; the one negative-id bug — src_binary_files' filename
    regex — is fixed and pinned). Duplicate ids are a declared
    PRECONDITION instead: see tests/test_empty_corpus.py DOCKEY notes.
    """
    loader = load_table_cpu if cpu else load_table
    return loader(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> None:
    """Register fixture tables as temp views for ``spark.sql``."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
