"""Corpus-curation operators: the quality / safety / rollup pack a
large-scale training-data pipeline runs after dedup.

Extends the reference's tokenize-and-count surface
(``KafkaStreamPropertyAggregator.java:74-79``) with the curation
steps a 100 TB corpus actually needs: repetition-based quality
metrics (the Gopher-style filters), benchmark decontamination,
PII scan/redaction, multi-granularity time rollups, and the
keep-best-in-cluster dedup decision.

Every ratio is a double divide of exact integers and every regex is
in the Java∩RE2 dialect subset, so the DuckDB oracles match
bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import cents
from ..functions.hashing import hash64, hash64_sql
from ..sources.tables import (
    bcast_gated,
    load_documents_keyed,
    load_table,
    load_table_cpu,
    ts_micros,
)
from .dedup import _SHINGLES_SQL, _shingles
from .textstats import TEXT_QUALITY_SQL, text_quality_score

# ---------------------------------------------------- repetition metrics --


def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition ratios (duplicate-word fraction, top
    word / top bigram mass) — the cheap boilerplate detectors used as
    corpus quality filters before model-based scoring.

    One two-level aggregate over the CONCATENATED word+bigram grain
    (tokens never contain a space, bigrams always do, so the tiers
    disambiguate locally): explode → partial (doc, gram) count →
    per-doc conditional max/sum. Both levels combine map-side, so at
    100 TB the shuffle carries (doc, gram, partial-count) triples,
    never raw text — and the corpus is scanned once, not once per
    tier."""
    docs = load_table_cpu(spark, sf_dir, "documents")
    words_arr = F.filter(F.split("text", " "), lambda w: w != "")
    bigrams = F.zip_with(
        words_arr,
        F.slice(words_arr, 2, F.greatest(F.size(words_arr) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bigrams = F.slice(bigrams, 1, F.greatest(F.size(bigrams) - 1, F.lit(0)))
    # word + bigram tiers share ONE explode/shuffle (round-13
    # optimization): tokens never contain a space (split-by-space) and
    # bigrams always do, so the two grains disambiguate locally via
    # contains(' ') and both per-doc summaries fall out of a single
    # two-level aggregate — one corpus scan instead of two, one
    # exchange instead of two, the wt⋈bt join gone. A doc with words
    # but no bigram (single-word doc) gets NULL bigram columns from
    # the all-NULL conditional aggregates — exactly the old left
    # join's NULLs.
    grams = docs.select(
        "doc_id", F.explode(F.concat(words_arr, bigrams)).alias("g")
    )
    is_w = ~F.col("g").contains(" ")
    per = (
        grams.groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(is_w, F.col("c"))).alias("n_words"),
            F.count(F.when(is_w, F.lit(1))).alias("n_distinct"),
            F.max(F.when(is_w, F.col("c"))).alias("top_word_cnt"),
            F.sum(F.when(~is_w, F.col("c"))).alias("n_bigrams"),
            F.max(F.when(~is_w, F.col("c"))).alias("top_bigram_cnt"),
        )
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return per.select(
        "doc_id",
        "n_words",
        "n_distinct",
        ((dbl("n_words") - dbl("n_distinct")) / dbl("n_words")).alias(
            "dup_word_frac"
        ),
        "top_word_cnt",
        (dbl("top_word_cnt") / dbl("n_words")).alias("top_word_frac"),
        "n_bigrams",
        "top_bigram_cnt",
        (dbl("top_bigram_cnt") / dbl("n_bigrams")).alias("top_bigram_frac"),
    )


TEXT_REPETITION_SQL = """
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS g
  FROM documents
),
wc AS (SELECT doc_id, g, COUNT(*) AS c FROM words GROUP BY 1, 2),
wt AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         COUNT(*) AS n_distinct, MAX(c) AS top_word_cnt
  FROM wc GROUP BY 1
),
bigrams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents) t
),
bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bigrams GROUP BY 1, 2),
bt AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         MAX(c) AS top_bigram_cnt
  FROM bc GROUP BY 1
)
SELECT wt.doc_id, n_words, n_distinct,
       (CAST(n_words AS DOUBLE) - CAST(n_distinct AS DOUBLE))
         / CAST(n_words AS DOUBLE) AS dup_word_frac,
       top_word_cnt,
       CAST(top_word_cnt AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
       n_bigrams, top_bigram_cnt,
       CAST(top_bigram_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
         AS top_bigram_frac
FROM wt LEFT JOIN bt ON wt.doc_id = bt.doc_id
"""


# ----------------------------------------------------- decontamination --

#: documents with doc_id below this are the stand-in "benchmark set";
#: production would broadcast the real eval-suite shingle table instead.
N_BENCH_DOCS = 4


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan: flag corpus documents sharing
    word-3-gram shingles with a (stand-in) benchmark set, with hit
    counts and contamination fraction.

    The probe side is tiny (an eval suite, not a corpus), so the join
    is a broadcast hash join — the 100 TB corpus streams through
    map-side with no shuffle; per-doc totals are one hash-agg.
    Production decontamination uses longer n-grams (8-13); the shared
    3-gram tier keeps the fixture universe identical to the dedup
    oracles (``dedup.py:_shingles``)."""
    # three consumers (bench probe, per-doc totals, hit join) — one
    # checkpointed shingle pass instead of three raw document scans
    sh = _shingles(spark, sf_dir).localCheckpoint(eager=False)
    bench = sh.filter(F.col("doc_id") < N_BENCH_DOCS).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    corpus = sh.filter(F.col("doc_id") >= N_BENCH_DOCS)
    tot = corpus.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        corpus.join(bcast_gated(bench, sf_dir), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_hit_shingles"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )
    return hits.join(tot, "doc_id").select(
        "doc_id",
        "n_hit_shingles",
        "n_bench_docs",
        "n_shingles",
        (
            F.col("n_hit_shingles").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("contamination_frac"),
    )


TEXT_DECONTAM_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
bench AS (
  SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id < {N_BENCH_DOCS}
),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= {N_BENCH_DOCS}),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY 1),
h AS (
  SELECT c.doc_id,
         COUNT(DISTINCT c.shingle) AS n_hit_shingles,
         COUNT(DISTINCT b.bench_id) AS n_bench_docs
  FROM corpus c JOIN bench b ON c.shingle = b.shingle
  GROUP BY 1
)
SELECT h.doc_id, n_hit_shingles, n_bench_docs, n_shingles,
       CAST(n_hit_shingles AS DOUBLE) / CAST(n_shingles AS DOUBLE)
         AS contamination_frac
FROM h JOIN tot ON h.doc_id = tot.doc_id
"""


# ------------------------------------------------------ PII scan/redact --

#: Java∩RE2 dialect subset — no backrefs, no lookaround, so Spark
#: (java.util.regex) and DuckDB (RE2) match identically.
EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
PHONE_RE = "[0-9]{3}-[0-9]{4}"


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction over a deterministically PII-injected
    corpus (fixture text is synthetic word salad, so the scan targets
    are planted in-query: an email for doc_id % 7 == 0, a phone for
    doc_id % 11 == 0 — same CASE in both engines).

    Detection is `regexp_count`, redaction a global `regexp_replace`
    chain; only the md5 of the redacted text leaves the executor —
    the pattern for a compliance scan that must not move raw text
    across the wire. Pure codegen'd expressions, one scan, no
    shuffle before the (tiny) flagged-rows result."""
    docs = load_table_cpu(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).otherwise(F.col("text"))
    aug = F.when(
        F.col("doc_id") % 11 == 0, F.concat(aug, F.lit(" call 555-0142 ext 9"))
    ).otherwise(aug)
    redacted = F.regexp_replace(
        F.regexp_replace(aug, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return (
        docs.select(
            "doc_id",
            F.regexp_count(aug, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
            F.regexp_count(aug, F.lit(PHONE_RE)).cast("int").alias("n_phones"),
            F.md5(redacted).alias("redacted_md5"),
        )
        .filter((F.col("n_emails") > 0) | (F.col("n_phones") > 0))
    )


TEXT_PII_SQL = f"""
WITH aug1 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com now'
              ELSE text END AS t
  FROM documents
),
aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN t || ' call 555-0142 ext 9'
              ELSE t END AS t
  FROM aug1
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM aug
WHERE len(regexp_extract_all(t, '{EMAIL_RE}')) > 0
   OR len(regexp_extract_all(t, '{PHONE_RE}')) > 0
"""


# ------------------------------------------------------ rollup hierarchy --



def ts_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup hierarchy: minute sums from raw
    events, hour sums FROM THE MINUTE TIER, day sums from the hour
    tier — each coarser grain is a merge of the finer one's partials
    (exact integer cents), never a rescan. This is the hypertable /
    materialized-rollup pattern: at 100 TB the raw scan happens once
    and every coarser grain costs |finer-tier rows|, which is
    thousands of times smaller.

    bucket is the integer bucket index in its own grain's units
    (minutes / hours / days since epoch); sums are exact cents
    rendered as double once at the end."""
    ev = load_table(spark, sf_dir, "events")
    minute = (
        ev.select(ts_micros().alias("us"), cents("value").alias("c"))
        .select(F.expr("us DIV 60000000").alias("bucket"), "c")
        .groupBy("bucket")
        .agg(F.sum("c").alias("sum_cents"), F.count("*").alias("n"))
        # materialize each tier it feeds from (union branch + next
        # grain) — without this Spark re-plans the branch and re-scans
        # the RAW events table once per grain (verified: 3 parquet
        # scans, 0 ReusedExchange). The checkpoint is the in-session
        # stand-in for the persisted rollup table this pattern writes
        # in production; the tier is |minutes| rows, model-sized.
        .localCheckpoint(eager=False)
    )
    hour = (
        minute.select(F.expr("bucket DIV 60").alias("bucket"), "sum_cents", "n")
        .groupBy("bucket")
        .agg(F.sum("sum_cents").alias("sum_cents"), F.sum("n").alias("n"))
        .localCheckpoint(eager=False)
    )
    day = (
        hour.select(F.expr("bucket DIV 24").alias("bucket"), "sum_cents", "n")
        .groupBy("bucket")
        .agg(F.sum("sum_cents").alias("sum_cents"), F.sum("n").alias("n"))
    )
    tiers = (
        minute.select(F.lit("minute").alias("grain"), "bucket", "sum_cents", "n")
        .unionByName(
            hour.select(F.lit("hour").alias("grain"), "bucket", "sum_cents", "n")
        )
        .unionByName(
            day.select(F.lit("day").alias("grain"), "bucket", "sum_cents", "n")
        )
    )
    return tiers.select(
        "grain",
        "bucket",
        (F.col("sum_cents").cast("double") / F.lit(100.0)).alias("sum_value"),
        "n",
    )


TS_ROLLUP_SQL = """
WITH minute AS (
  SELECT epoch_us(ts) // 60000000 AS bucket,
         CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
         COUNT(*) AS n
  FROM events GROUP BY 1
),
hour AS (
  SELECT bucket // 60 AS bucket, CAST(SUM(sum_cents) AS BIGINT) AS sum_cents,
         CAST(SUM(n) AS BIGINT) AS n
  FROM minute GROUP BY 1
),
day AS (
  SELECT bucket // 24 AS bucket, CAST(SUM(sum_cents) AS BIGINT) AS sum_cents,
         CAST(SUM(n) AS BIGINT) AS n
  FROM hour GROUP BY 1
)
SELECT 'minute' AS grain, bucket,
       CAST(sum_cents AS DOUBLE) / 100.0 AS sum_value, n FROM minute
UNION ALL
SELECT 'hour' AS grain, bucket,
       CAST(sum_cents AS DOUBLE) / 100.0 AS sum_value, n FROM hour
UNION ALL
SELECT 'day' AS grain, bucket,
       CAST(sum_cents AS DOUBLE) / 100.0 AS sum_value, n FROM day
"""


# ----------------------------------------------------------- chunking --

CHUNK_TOKENS = 64   #: tokens per retrieval chunk
CHUNK_STRIDE = 48   #: chunk start stride (CHUNK_TOKENS - overlap)


def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunking (64-token chunks, stride 48) — the
    retrieval/RAG indexing step. Emits the chunk manifest (doc_id,
    chunk_id, token count, chunk md5): what an embedding job consumes,
    without moving chunk text into the result.

    Entirely array expressions per row (sequence → slice → concat) —
    no explode of individual tokens, no shuffle at all before the
    result; chunk rows stream out of the scan map-side."""
    docs = load_documents_keyed(spark, sf_dir)
    words = F.filter(F.split("text", " "), lambda w: w != "")
    # `words` must not be referenced from inside the chunk lambda:
    # slice(words, s+1, 64) there re-runs the split once per CHUNK —
    # O(L²/stride) in doc length (round-11 GIANTDOC find; see
    # functions/grams.py). Fixed k-grams use the zip_with chain, but
    # 64-token strided windows would need 64 chained zips — instead
    # pack the evaluated array into a one-element struct array and
    # chunk inside its transform, where x["w"] is a LAMBDA VARIABLE
    # (already-evaluated value, O(1) access) rather than an inline
    # expression. The split runs exactly once per row.
    packed = F.transform(
        F.array(F.struct(words.alias("w"))),
        lambda x: F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(F.size(x["w"]) - 1, F.lit(0)),
                F.lit(CHUNK_STRIDE),
            ),
            lambda s: F.struct(
                F.size(F.slice(x["w"], s + 1, CHUNK_TOKENS)).alias(
                    "n_tokens"
                ),
                F.md5(
                    F.concat_ws(" ", F.slice(x["w"], s + 1, CHUNK_TOKENS))
                ).alias("chunk_md5"),
            ),
        ),
    )
    chunks = F.element_at(packed, 1)
    return (
        docs.filter(F.size(words) > 0)
        .select("doc_id", F.posexplode(chunks).alias("chunk_id", "ch"))
        .select(
            "doc_id",
            "chunk_id",
            F.col("ch.n_tokens").alias("n_tokens"),
            F.col("ch.chunk_md5").alias("chunk_md5"),
        )
    )


# Rebuilt from EXPLODED token rows (round-11 GIANTDOC): the former
# per-chunk list_slice over the carried token list is O(L) per chunk
# in DuckDB — O(L²/stride) per giant document, measured 65 s at a
# 200k-token doc. Here each token row fans out to the (at most
# ceil(TOKENS/STRIDE)) overlapping chunks that contain it — chunk c
# covers positions c·STRIDE+1 .. c·STRIDE+TOKENS, so c ranges over
# [ceil((pos-TOKENS)/STRIDE), floor((pos-1)/STRIDE)], clamped at 0;
# the upper bound never exceeds the last start (floor((L-1)/STRIDE)).
# string_agg ORDER BY pos rebuilds each chunk's exact text for the md5.
TEXT_CHUNK_SQL = f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
  FROM documents
),
ex AS (
  SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos
  FROM base WHERE len(w) > 0
),
member AS (
  SELECT doc_id, pos, word,
         unnest(range(
           greatest(CAST(ceil((pos - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0)
                         AS BIGINT), 0),
           CAST(floor((pos - 1) / {CHUNK_STRIDE}.0) AS BIGINT) + 1
         )) AS chunk_id
  FROM ex
)
SELECT doc_id, chunk_id, CAST(COUNT(*) AS INT) AS n_tokens,
       md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_md5
FROM member
GROUP BY doc_id, chunk_id
"""


# ------------------------------------------------------ leakage audit --

#: same hash-split percentages as analytics.sample_split_hash
LEAK_TRAIN_PCT = 90


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: after a deterministic hash split,
    count each test document's shingles that also occur anywhere in
    the train split — the contamination check run before an eval set
    is trusted. Boilerplate shingles above the dedup tier's document-
    frequency cap are excluded (same ``SHINGLE_DF_CAP`` semantics in
    both engines), since ubiquitous n-grams are noise, not leakage.

    The join key is the 60-bit shingle hash, not the string — the
    shuffle carries longs. Train-side distinct shingles stay
    distributed (shuffle join, not broadcast: at 100 TB the train
    shingle set is the corpus-sized side; the df-cap bounds per-key
    fan-out so the join cannot square)."""
    from .dedup import SHINGLE_DF_CAP

    # one raw shingle pass: the exploded table feeds the df-cap AND the
    # capped projection, and the capped (doc, hash) longs feed train
    # and test sides — checkpoint both so the documents scan runs once
    # instead of four times (caught by the full-registry plan audit)
    sh = _shingles(spark, sf_dir).localCheckpoint(eager=False)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .select("shingle")
    )
    capped = (
        sh.join(bcast_gated(hot, sf_dir), "shingle", "left_anti")
        .select("doc_id", hash64(F.col("shingle")).alias("sh"))
        .localCheckpoint(eager=False)
    )
    bucket = F.pmod(
        hash64(F.concat(F.lit("sp#"), F.col("doc_id").cast("string"))), F.lit(100)
    )
    tagged = capped.withColumn("is_test", bucket >= LEAK_TRAIN_PCT)
    train_sh = (
        tagged.filter(~F.col("is_test")).select("sh").distinct()
    )
    test = tagged.filter(F.col("is_test")).select("doc_id", "sh")
    tot = test.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    leaked = (
        test.join(train_sh, "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_leaked"))
    )
    return tot.join(leaked, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_leaked", F.lit(0)).alias("n_leaked"),
        (
            F.coalesce("n_leaked", F.lit(0)).cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("leak_frac"),
    )


from .dedup import SHINGLE_DF_CAP as _DF_CAP  # noqa: E402

SPLIT_LEAKAGE_SQL = f"""
WITH sh_raw AS ({_SHINGLES_SQL}),
df AS (SELECT shingle, COUNT(*) AS df FROM sh_raw GROUP BY 1),
capped AS (
  SELECT s.doc_id, {hash64_sql("s.shingle")} AS sh
  FROM sh_raw s JOIN df ON s.shingle = df.shingle
  WHERE df.df <= {_DF_CAP}
),
tagged AS (
  SELECT doc_id, sh,
         ({hash64_sql("'sp#' || CAST(doc_id AS VARCHAR)")} % 100)
           >= {LEAK_TRAIN_PCT} AS is_test
  FROM capped
),
train_sh AS (SELECT DISTINCT sh FROM tagged WHERE NOT is_test),
test AS (SELECT doc_id, sh FROM tagged WHERE is_test),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM test GROUP BY 1),
leaked AS (
  SELECT t.doc_id, COUNT(*) AS n_leaked
  FROM test t JOIN train_sh r ON t.sh = r.sh GROUP BY 1
)
SELECT tot.doc_id, tot.n_shingles,
       COALESCE(leaked.n_leaked, 0) AS n_leaked,
       CAST(COALESCE(leaked.n_leaked, 0) AS DOUBLE)
         / CAST(tot.n_shingles AS DOUBLE) AS leak_frac
FROM tot LEFT JOIN leaked ON tot.doc_id = leaked.doc_id
"""


# -------------------------------------------------- keep-best-in-cluster --


def pipeline_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup decision: within each near-dup cluster
    (MinHash-LSH → connected components, ``dedup.dedup_cluster_keep``)
    keep the HIGHEST-QUALITY member (``textstats.text_quality_score``),
    not the min-id one — what a production pipeline actually does,
    since near-dup clusters mix clean and boilerplate-damaged copies.

    The cluster table is |dup docs| rows (model-sized next to the
    corpus), so it broadcasts into the quality join; the per-cluster
    argmax is one hash-agg over a struct ordering (score desc, doc_id
    asc via negation) — deterministic, no window shuffle."""
    from .dedup import dedup_cluster_keep

    clusters = dedup_cluster_keep(spark, sf_dir).select(
        "doc_id", F.col("keep_doc_id").alias("cluster_id")
    )
    quality = text_quality_score(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    members = quality.join(bcast_gated(clusters, sf_dir), "doc_id")
    best = members.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.max(
            F.struct(
                F.col("quality_score").alias("s"),
                (-F.col("doc_id")).alias("nd"),
            )
        ).alias("m"),
    )
    return best.select(
        "cluster_id",
        (-F.col("m.nd")).alias("best_doc_id"),
        F.col("m.s").alias("best_score"),
        "n_members",
    )


from .dedup import DEDUP_CLUSTER_SQL  # noqa: E402

PIPELINE_KEEP_BEST_SQL = f"""
WITH clusters AS ({DEDUP_CLUSTER_SQL}),
q AS ({TEXT_QUALITY_SQL}),
members AS (
  SELECT c.keep_doc_id AS cluster_id, c.doc_id, q.quality_score
  FROM clusters c JOIN q ON c.doc_id = q.doc_id
),
ranked AS (
  SELECT cluster_id, doc_id, quality_score,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality_score DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM members
)
SELECT cluster_id, doc_id AS best_doc_id, quality_score AS best_score,
       n_members
FROM ranked WHERE rn = 1
"""


# ------------------------------------------------ fuzzy word pairs --

#: deletion-key blocks larger than this are dropped (same skew
#: discipline as dedup.SHINGLE_DF_CAP / LSH_BUCKET_CAP; the same
#: degenerate-regime boundary stated at those constants applies —
#: deletion keys live in an unbounded string space, so an over-cap
#: block is a real pile-up on one short key, not hash-space
#: saturation, and dropping it loses only that key's pairs)
FUZZY_BLOCK_CAP = 256


def fuzzy_pairs_symdelete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 word pairs via SYMMETRIC-DELETE blocking
    (SymSpell): each word's candidate key set is itself plus every
    single-character deletion; two words within edit distance 1 always
    share a key, so candidates come from an equi-join on the key and
    only candidates pay the levenshtein verify. The all-pairs
    levenshtein join this replaces is quadratic in vocabulary size;
    this is linear in Σ|word| with a capped block size.

    The fixture vocabulary has no natural typos, so deterministic
    variants (2nd character dropped from words of length ≥ 4) are
    planted identically in both engines — the assertion is that
    BLOCKING finds exactly the true pairs, never that typos exist.
    Output carries corpus frequency of both sides (the signal used to
    pick the canonical spelling)."""
    docs = load_table_cpu(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w")
    )
    freq = words.groupBy("w").agg(F.count("*").alias("freq"))
    planted = freq.filter(F.length("w") >= 4).select(
        F.expr("concat(substr(w, 1, 1), substr(w, 3))").alias("w"),
        F.lit(0).cast("long").alias("freq"),
    )
    vocab = (
        freq.unionByName(planted)
        .groupBy("w")
        .agg(F.max("freq").alias("freq"))
        # pin the no-empty-word invariant at the edge the prefix-split
        # relies on: sequence(1, 0) in Spark yields a DESCENDING [1,0]
        # (computing a spurious p) where DuckDB's range(1, 1) is empty,
        # so an empty word reaching the candidate set would diverge the
        # engines (ADVICE r8). The tokenizer filters w <> '' and planted
        # variants have length >= 3, so this is an identity today.
        .filter(F.length("w") > 0)
    )
    # checkpoint the (vocab-sized) key table: it feeds the block-size
    # cap and BOTH self-join sides — without this the corpus word scan
    # re-runs four times (caught by the full-registry plan audit)
    keyed = vocab.select(
        "w",
        "freq",
        F.explode(
            F.array_union(
                F.array(F.col("w")),
                F.expr(
                    "transform(sequence(1, length(w)),"
                    " i -> concat(substr(w, 1, i-1), substr(w, i+1)))"
                ),
            )
        ).alias("k"),
    ).localCheckpoint(eager=False)
    hot = (
        keyed.groupBy("k")
        .agg(F.count("*").alias("members"))
        .filter(F.col("members") > FUZZY_BLOCK_CAP)
        .select("k")
    )
    capped = keyed.join(bcast_gated(hot, sf_dir), "k", "left_anti").localCheckpoint(
        eager=False
    )
    a = capped.select(
        F.col("w").alias("word_a"), F.col("freq").alias("freq_a"), "k"
    )
    b = capped.select(
        F.col("w").alias("word_b"), F.col("freq").alias("freq_b"), "k"
    )
    # Edit-distance-1 verify via the prefix-split identity instead of
    # levenshtein: DuckDB v1.0's levenshtein counts BYTES (café→cafe
    # = 2) where Spark counts codepoints (= 1), so the two engines
    # disagree on any multibyte vocabulary (round-8 unicode sweep).
    # substr/length are codepoint-faithful in BOTH engines, and for
    # distinct words with common-prefix length p:
    #   same length:   dist 1  ⟺  suffixes from p+2 agree
    #   length diff 1: dist 1  ⟺  longer's suffix from p+2 equals
    #                             shorter's suffix from p+1
    # (prefix equality is monotone, so p = COUNT of agreeing prefix
    # lengths — one tiny lambda per candidate pair).
    return (
        a.join(b, "k")
        .filter(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b", "freq_a", "freq_b")
        .distinct()
        .withColumn(
            "p",
            F.expr(
                "size(filter(sequence(1, int(least(length(word_a),"
                " length(word_b)))), i -> substr(word_a, 1, i) ="
                " substr(word_b, 1, i)))"
            ),
        )
        .filter(
            F.expr(
                "CASE WHEN length(word_a) = length(word_b)"
                " THEN substring(word_a, p + 2) = substring(word_b, p + 2)"
                "      AND p < length(word_a)"
                " WHEN length(word_b) - length(word_a) = 1"
                " THEN substring(word_b, p + 2) = substring(word_a, p + 1)"
                " WHEN length(word_a) - length(word_b) = 1"
                " THEN substring(word_a, p + 2) = substring(word_b, p + 1)"
                " ELSE FALSE END"
            )
        )
        .drop("p")
    )


FUZZY_PAIRS_SQL = f"""
WITH words AS (
  SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM documents
),
freq AS (SELECT w, COUNT(*) AS freq FROM words GROUP BY 1),
planted AS (
  SELECT substr(w, 1, 1) || substr(w, 3) AS w, CAST(0 AS BIGINT) AS freq
  FROM freq WHERE length(w) >= 4
),
vocab AS (
  SELECT w, MAX(freq) AS freq FROM (
    SELECT * FROM freq UNION ALL SELECT * FROM planted
  ) u GROUP BY 1
),
keyed AS (
  -- list_distinct mirrors Spark's array_union dedup: a word with
  -- repeated adjacent characters ('good' -> 'god' twice) must emit
  -- each deletion key ONCE, or the per-block member counts diverge
  -- between engines exactly at the FUZZY_BLOCK_CAP boundary
  SELECT w, freq, unnest(list_distinct(list_prepend(w,
           list_transform(range(1, length(w) + 1),
             i -> substr(w, 1, i - 1) || substr(w, i + 1))))) AS k
  FROM vocab
),
blocks AS (
  SELECT k FROM keyed GROUP BY k HAVING COUNT(*) <= {FUZZY_BLOCK_CAP}
),
capped AS (SELECT keyed.* FROM keyed JOIN blocks ON keyed.k = blocks.k),
cand AS (
  SELECT DISTINCT a.w AS word_a, b.w AS word_b,
         a.freq AS freq_a, b.freq AS freq_b
  FROM capped a JOIN capped b ON a.k = b.k AND a.w < b.w
),
-- prefix-split edit-distance-1 verify (codepoint-faithful in both
-- engines; DuckDB's levenshtein counts bytes — see the Spark twin)
pfx AS (
  SELECT *, len(list_filter(range(1, least(length(word_a),
                                           length(word_b)) + 1),
             i -> substr(word_a, 1, CAST(i AS INT)) =
                  substr(word_b, 1, CAST(i AS INT)))) AS p
  FROM cand
)
SELECT word_a, word_b, freq_a, freq_b
FROM pfx
WHERE CASE WHEN length(word_a) = length(word_b)
           THEN substr(word_a, CAST(p + 2 AS INT)) =
                substr(word_b, CAST(p + 2 AS INT)) AND p < length(word_a)
           WHEN length(word_b) - length(word_a) = 1
           THEN substr(word_b, CAST(p + 2 AS INT)) =
                substr(word_a, CAST(p + 1 AS INT))
           WHEN length(word_a) - length(word_b) = 1
           THEN substr(word_a, CAST(p + 2 AS INT)) =
                substr(word_b, CAST(p + 1 AS INT))
           ELSE FALSE END
"""


# ------------------------------------------------ gate funnel report --

FUNNEL_MIN_WORDS = 5
FUNNEL_LANGS = ("en", "de", "fr", "es")  # zh dropped by the demo policy


def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-gate attrition report for a sequential curation funnel —
    the observability artifact every corpus-curation run publishes
    (which gate ate the data?). Gates, in order:

      1. ``min_length``  — at least FUNNEL_MIN_WORDS whitespace words;
      2. ``lang_allowed`` — language in the configured allowlist;
      3. ``dedup_exact`` — first doc_id per exact text (md5) wins;
      4. ``has_stopword`` — at least one known stopword (the cheap
         gibberish screen).

    Each gate's input is the previous gate's survivors, so the report
    is the conjunction cascade: one scan computes all flags (the dedup
    flag adds one hash-partitioned window), one tiny aggregate sums
    the cascade, and the 4-row report is unpivoted from that single
    row — no per-gate rescans, at any scale. Every verdict is an
    integer count.
    """
    from pyspark.sql import Window

    from .textstats import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(F.filter(words, lambda w: w != ""))
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    # evaluate every text-derived gate BEFORE the dedup window so the
    # window exchange shuffles (hash, doc_id, 3 booleans), never the
    # document text itself — measured: shuffling text made the 10×
    # probe 17× instead of ~2×
    pre = docs.select(
        (n_words >= FUNNEL_MIN_WORDS).alias("g1"),
        F.col("lang").isin(*FUNNEL_LANGS).alias("g2"),
        (n_stop >= 1).alias("g4"),
        F.md5("text").alias("h"),
        "doc_id",
    )
    # the dedup rank runs among GATE-2 SURVIVORS of each text (the
    # extra partition key (g1 AND g2) splits each hash group into
    # survivors and non-survivors, so a failed copy never shadows the
    # first surviving copy) — "each gate's input is the previous
    # gate's survivors" taken literally, same as
    # pipeline_pretrain_corpus's dedup-over-`gated` window
    w = Window.partitionBy("h", F.col("g1") & F.col("g2")).orderBy(
        "doc_id"
    )
    flags = pre.select(
        "g1",
        "g2",
        (F.row_number().over(w) == 1).alias("g3"),
        "g4",
    )
    c = flags.agg(
        F.count("*").alias("n0"),
        F.count_if("g1").alias("n1"),
        F.count_if(F.col("g1") & F.col("g2")).alias("n2"),
        F.count_if(F.col("g1") & F.col("g2") & F.col("g3")).alias("n3"),
        F.count_if(
            F.col("g1") & F.col("g2") & F.col("g3") & F.col("g4")
        ).alias("n4"),
    )
    return c.select(
        F.expr(
            "stack(4, "
            "1, 'min_length',   n0, n1, "
            "2, 'lang_allowed', n1, n2, "
            "3, 'dedup_exact',  n2, n3, "
            "4, 'has_stopword', n3, n4) AS (gate_no, gate, n_in, n_pass)"
        )
    ).withColumn("n_fail", F.col("n_in") - F.col("n_pass"))


_FUNNEL_LANGS_SQL = ", ".join(f"'{lang}'" for lang in FUNNEL_LANGS)

CURATION_FUNNEL_SQL = f"""
WITH flags AS (
  SELECT
    len(list_filter(string_split(text, ' '), w -> w <> ''))
      >= {FUNNEL_MIN_WORDS} AS g1,
    lang IN ({_FUNNEL_LANGS_SQL}) AS g2,
    row_number() OVER (
      PARTITION BY md5(text),
        (len(list_filter(string_split(text, ' '), w -> w <> ''))
           >= {FUNNEL_MIN_WORDS} AND lang IN ({_FUNNEL_LANGS_SQL}))
      ORDER BY doc_id) = 1 AS g3,
    len(list_filter(string_split(text, ' '),
        w -> w IN ({{STOPS}}))) >= 1 AS g4
  FROM documents
),
c AS (
  SELECT COUNT(*) AS n0,
         COUNT(*) FILTER (g1) AS n1,
         COUNT(*) FILTER (g1 AND g2) AS n2,
         COUNT(*) FILTER (g1 AND g2 AND g3) AS n3,
         COUNT(*) FILTER (g1 AND g2 AND g3 AND g4) AS n4
  FROM flags
)
SELECT * FROM (
  SELECT 1 AS gate_no, 'min_length' AS gate, n0 AS n_in, n1 AS n_pass,
         n0 - n1 AS n_fail FROM c
  UNION ALL
  SELECT 2, 'lang_allowed', n1, n2, n1 - n2 FROM c
  UNION ALL
  SELECT 3, 'dedup_exact', n2, n3, n2 - n3 FROM c
  UNION ALL
  SELECT 4, 'has_stopword', n3, n4, n3 - n4 FROM c
)
"""


from .textstats import STOPWORDS as _STOPWORDS  # noqa: E402

CURATION_FUNNEL_SQL = CURATION_FUNNEL_SQL.replace(
    "{STOPS}", ", ".join(f"'{w}'" for w in _STOPWORDS)
)


# ------------------------------------------- Gopher-style rule gates --

# Independent quality rules in the style of the Gopher corpus filters
# (Rae et al. 2021, "Scaling Language Models"), thresholds tuned to the
# synthetic corpus so every rule actually discriminates (word counts
# run 10-99, mean word length 3.7-5.1, distinct-token ratio 0.28-1.0):
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_LO = 4          # mean word length lower bound (chars/word)
GOPHER_MWL_HI = 10
GOPHER_MIN_STOPWORDS = 2   # distinct stopwords that must appear
# duplicate-token mass: distinct/total >= 1/2


def text_gopher_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-quality rule pack, reported per source:
    how many docs fail each INDEPENDENT rule and how many pass all —
    unlike ``curation_funnel_report`` (a sequential cascade, each gate
    seeing only prior survivors) this is the diagnostic grid curation
    teams use to TUNE thresholds before ordering them into a funnel.

      fail_wc   — word count outside [30, 100000];
      fail_mwl  — mean word length outside [4, 10] chars
                  (integer cross-multiplication, no FP quotient);
      fail_stop — fewer than 2 distinct known stopwords;
      fail_dup  — over half the tokens are repeats
                  (2·distinct < total).

    One scan, all flags from per-row array expressions, one aggregate.
    Nothing shuffles but (source, 4 booleans) — the document text
    never leaves the scan stage (the lesson ``curation_funnel_report``
    measured: shuffling text made its 10× probe 17× instead of ~2×).
    """
    from .textstats import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    n_words = F.size(words)
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_distinct = F.size(F.array_distinct(words))
    n_stop = F.size(
        F.filter(
            F.array_distinct(words), lambda w: w.isin(*STOPWORDS)
        )
    )
    flags = docs.select(
        "source",
        (
            (n_words < GOPHER_MIN_WORDS) | (n_words > GOPHER_MAX_WORDS)
        ).alias("f_wc"),
        (
            (n_chars < GOPHER_MWL_LO * n_words)
            | (n_chars > GOPHER_MWL_HI * n_words)
        ).alias("f_mwl"),
        (n_stop < GOPHER_MIN_STOPWORDS).alias("f_stop"),
        (2 * n_distinct < n_words).alias("f_dup"),
    )
    cnt = lambda c: F.sum(F.col(c).cast("long")).alias  # noqa: E731
    return flags.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        cnt("f_wc")("n_fail_wc"),
        cnt("f_mwl")("n_fail_mwl"),
        cnt("f_stop")("n_fail_stop"),
        cnt("f_dup")("n_fail_dup"),
        F.sum(
            (~F.col("f_wc") & ~F.col("f_mwl") & ~F.col("f_stop")
             & ~F.col("f_dup")).cast("long")
        ).alias("n_pass"),
    )


# derived from the ONE stopword tuple, so the Spark side (which
# evaluates textstats.STOPWORDS) and these oracles can never drift
from .textstats import _STOP_LIST_SQL as _GOPHER_STOP_LIST  # noqa: E402

TEXT_GOPHER_SQL = f"""
WITH w AS (
  SELECT source,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws,
         length(replace(text, ' ', '')) AS chars
  FROM documents
),
flags AS (
  SELECT source,
         (len(ws) < {GOPHER_MIN_WORDS} OR len(ws) > {GOPHER_MAX_WORDS})
           AS f_wc,
         (chars < {GOPHER_MWL_LO} * len(ws)
          OR chars > {GOPHER_MWL_HI} * len(ws)) AS f_mwl,
         (len(list_filter(list_distinct(ws),
              x -> x IN ({_GOPHER_STOP_LIST}))) < {GOPHER_MIN_STOPWORDS})
           AS f_stop,
         (2 * len(list_distinct(ws)) < len(ws)) AS f_dup
  FROM w
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wc,
       CAST(SUM(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_mwl,
       CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
       CAST(SUM(CASE WHEN f_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_dup,
       CAST(SUM(CASE WHEN NOT f_wc AND NOT f_mwl AND NOT f_stop
                      AND NOT f_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM flags GROUP BY source
"""


# ------------------------------------- end-to-end corpus pipeline --

PIPE_SRC_CAP = 150  # per-source doc quota after gating+dedup


def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end corpus build, as one Catalyst DAG: Gopher-style
    quality gates -> exact dedup (first doc per md5 wins) -> per-source
    quota sampling (deterministic hash rank) -> sequence-packing
    manifest (PACK_BUDGET-token bins per source). The output is what a
    training loader consumes: per (source, bin) doc counts, token
    sums, and doc-id ranges — the composition proof that the tier
    operators (text_gopher_gates / dedup_exact / sample_reservoir_group
    / pack_token_budget) actually chain.

    Plan shape, deliberately: gates are per-row array expressions
    evaluated in the scan stage; dedup is ONE window over (md5 hash,
    doc_id) — shuffling hash + id + the precomputed token count + 4
    booleans, never text (the funnel-report lesson); quota is one
    window over (source); packing is one window over (source, doc_id)
    + the final aggregate. Three window exchanges + one agg shuffle
    total — each on a different key because each stage genuinely
    re-keys. At 100 TB the quota window swaps for the two-phase salted
    top-k (``sample_reservoir_group``) with the same output contract.
    """
    from .textstats import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    wsf = F.filter(words, lambda w: w != "")
    n_words = F.size(wsf)
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_distinct = F.size(F.array_distinct(wsf))
    n_stop = F.size(
        F.filter(F.array_distinct(wsf), lambda w: w.isin(*STOPWORDS))
    )
    gated = docs.select(
        "source",
        "doc_id",
        n_words.alias("tok"),
        F.md5("text").alias("h"),
    ).where(
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (n_chars >= GOPHER_MWL_LO * n_words)
        & (n_chars <= GOPHER_MWL_HI * n_words)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
        & (2 * n_distinct >= n_words)
    )
    from pyspark.sql import Window

    wd = Window.partitionBy("h").orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .drop("rn", "h")
    )
    from ..functions.hashing import hash64 as _h64

    wq = Window.partitionBy("source").orderBy(
        _h64(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    quota = (
        deduped.withColumn("qr", F.row_number().over(wq))
        .filter(F.col("qr") <= PIPE_SRC_CAP)
        .drop("qr")
    )
    from .packing import PACK_BUDGET

    wp = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = quota.withColumn(
        "bin",
        F.expr(f"(sum(tok) OVER (PARTITION BY source ORDER BY doc_id"
               f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
               f" - tok) DIV {PACK_BUDGET}"),
    )
    _ = wp  # documented above; expression form keeps DIV integer
    return packed.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


PIPELINE_PRETRAIN_SQL = f"""
WITH w AS (
  SELECT source, doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws,
         length(replace(text, ' ', '')) AS chars
  FROM documents
),
gated AS (
  SELECT source, doc_id, len(ws) AS tok, md5(text) AS h
  FROM w
  WHERE len(ws) >= {GOPHER_MIN_WORDS} AND len(ws) <= {GOPHER_MAX_WORDS}
    AND chars >= {GOPHER_MWL_LO} * len(ws)
    AND chars <= {GOPHER_MWL_HI} * len(ws)
    AND len(list_filter(list_distinct(ws),
          x -> x IN ({_GOPHER_STOP_LIST}))) >= {GOPHER_MIN_STOPWORDS}
    AND 2 * len(list_distinct(ws)) >= len(ws)
),
deduped AS (
  SELECT source, doc_id, tok FROM (
    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM gated
  ) t WHERE rn = 1
),
quota AS (
  SELECT source, doc_id, tok FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source
      ORDER BY CAST('0x' || substr(md5('rsv:' || CAST(doc_id AS VARCHAR)),
                                   1, 15) AS BIGINT), doc_id
    ) AS qr FROM deduped
  ) t WHERE qr <= {PIPE_SRC_CAP}
),
packed AS (
  SELECT source, doc_id, tok,
         CAST((SUM(tok) OVER (PARTITION BY source ORDER BY doc_id) - tok)
              // {{budget}} AS BIGINT) AS bin
  FROM quota
)
SELECT source, bin, COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM packed GROUP BY 1, 2
"""


def _pipe_sql() -> str:
    from .packing import PACK_BUDGET

    return PIPELINE_PRETRAIN_SQL.format(budget=PACK_BUDGET)


# ------------------------------------------- threshold sweep --


def curation_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tuning curve for the quality gate: documents bucketed by
    quality-score decile, with per-bucket doc counts and token mass
    plus the CUMULATIVE keep statistics if the threshold were set at
    that decile — the curve a curation team reads before picking
    ``pipeline_keep_best``'s cut (what fraction of tokens does each
    extra decile of strictness cost?).

    The decile is floor(score*10) clamped to [0, 9] — one
    deterministic float op on the bit-portable score, then integers
    only. One scan plus a 10-row cumulative window.
    """
    from .textstats import text_quality_score

    docs = load_table_cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda w: w != ""))
        .cast("long")
        .alias("tok"),
    )
    scored = text_quality_score(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    bucketed = scored.join(docs, "doc_id").select(
        F.least(
            F.greatest(F.floor(F.col("quality_score") * 10), F.lit(0)),
            F.lit(9),
        ).cast("long").alias("decile"),
        "tok",
    )
    hist = bucketed.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").alias("sum_tokens"),
    )
    w = Window.orderBy(F.desc("decile")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        hist.withColumn(
            "tot_tokens", F.sum("sum_tokens").over(Window.partitionBy())
        )
        .select(
            "decile",
            "n_docs",
            "sum_tokens",
            F.sum("n_docs").over(w).alias("kept_docs_at_cut"),
            F.sum("sum_tokens").over(w).alias("kept_tokens_at_cut"),
            "tot_tokens",
        )
        .select(
            "decile", "n_docs", "sum_tokens", "kept_docs_at_cut",
            "kept_tokens_at_cut",
            F.expr(
                "(kept_tokens_at_cut * 1000000) DIV tot_tokens"
            ).alias("kept_tokens_ppm"),
        )
    )


def _sweep_sql() -> str:
    from .textstats import TEXT_QUALITY_SQL

    return f"""
WITH q AS ({TEXT_QUALITY_SQL.strip()}),
toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) AS tok
  FROM documents
),
bucketed AS (
  SELECT LEAST(GREATEST(CAST(floor(q.quality_score * 10) AS BIGINT), 0), 9)
           AS decile,
         t.tok
  FROM q JOIN toks t ON t.doc_id = q.doc_id
),
hist AS (
  SELECT decile, COUNT(*) AS n_docs, SUM(tok) AS sum_tokens
  FROM bucketed GROUP BY 1
)
SELECT decile, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sum_tokens AS BIGINT) AS sum_tokens,
       CAST(SUM(n_docs) OVER (ORDER BY decile DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS kept_docs_at_cut,
       CAST(SUM(sum_tokens) OVER (ORDER BY decile DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS kept_tokens_at_cut,
       CAST((SUM(sum_tokens) OVER (ORDER BY decile DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000)
         // SUM(sum_tokens) OVER () AS BIGINT) AS kept_tokens_ppm
FROM hist
"""


CURATION_SWEEP_SQL = _sweep_sql()
