"""Round-3 training-data curation operators (driver extensions;
BASELINE.json north-star: the operations a large-scale LLM data
pipeline needs beyond dedup/ANN — PII scrubbing, context-window
chunking, vocabulary statistics, snapshot-incremental dedup, domain
mixture re-weighting).

Scale notes (each entry's docstring carries specifics):

- PII redaction and mixture sampling are pure narrow maps/filters —
  they push into the scan stage and never shuffle text.
- Chunking is a JVM-side 1->N explode; only (doc_id, idx, digest) leave
  the map stage here (real pipelines would sink the chunk text
  partition-wise without shuffling it either).
- Top-token statistics shuffle (token, partial count) pairs after
  map-side partial aggregation — the classic word-count shape; the text
  itself never crosses the wire.
- Incremental dedup is a broadcast-able anti-join on 16-byte content
  keys: the new batch streams, the old snapshot ships as (key) only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pyblazing_spark.plans.registry import register
from pyblazing_spark.plans.sampling import hash_bucket
from pyblazing_spark.session import local_frame
from pyblazing_spark.sources.tables import load_table as T

#: Identical regex source for Spark (Java) and DuckDB (RE2) — the subset
#: syntax below means the same thing in both engines.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\+\d{2}-\d{3}-\d{4}"

#: JVM-side synthetic PII (the corpus ships none): one email per doc,
#: a phone on every third doc. Both sides build the exact same string.
_SQL_ENRICH = (
    "text || ' reach user' || doc_id || '@ex' || (doc_id % 5) || '.org'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' or +' || lpad(CAST(doc_id % 90 + 10 AS VARCHAR), 2, '0')"
    " || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
)


def _enrich_spark() -> F.Column:
    return F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@ex"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".org"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" or +"),
                F.lpad((F.col("doc_id") % 90 + 10).cast("string"), 2, "0"),
                F.lit("-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )


@register(
    "text_pii_redaction",
    tags=("llm", "curation", "pii"),
    oracle=f"""
WITH enriched AS (
  SELECT doc_id, {_SQL_ENRICH} AS t FROM documents),
 red AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '{EMAIL_RE}'))  AS n_emails,
         len(regexp_extract_all(t, '{PHONE_RE}'))  AS n_phones,
         regexp_replace(regexp_replace(t, '{EMAIL_RE}', '[EMAIL]', 'g'),
                        '{PHONE_RE}', '[PHONE]', 'g') AS r
  FROM enriched)
SELECT doc_id,
       CAST(n_emails AS INTEGER) AS n_emails,
       CAST(n_phones AS INTEGER) AS n_phones,
       md5(r)                    AS redacted_md5
FROM red
ORDER BY doc_id
""",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count then redact email/phone patterns
    (JVM ``regexp_replace``/``regexp_count`` — no Python). The oracle
    hashes the fully redacted text, so a missed match or a wrong
    replacement span cannot pass. Narrow map: at 100 TB this runs in the
    scan stage; nothing shuffles."""
    docs = T(spark, sf_dir, "documents")
    t = _enrich_spark()
    red = F.regexp_replace(
        F.regexp_replace(t, F.lit(EMAIL_RE), F.lit("[EMAIL]")),
        F.lit(PHONE_RE),
        F.lit("[PHONE]"),
    )
    return (
        docs.select(
            "doc_id",
            F.regexp_count(t, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
            F.regexp_count(t, F.lit(PHONE_RE)).cast("int").alias("n_phones"),
            F.md5(red.cast("binary")).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_chunking",
    tags=("llm", "curation", "chunking"),
    oracle="""
WITH d AS (
  SELECT doc_id, text, (length(text) + 79) // 80 AS n_chunks
  FROM documents),
 c AS (
  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
         substr(text, CAST(i * 80 + 1 AS INTEGER), 100) AS chunk
  FROM d JOIN generate_series(0, 4096) t(i) ON i < n_chunks)
SELECT doc_id, chunk_idx,
       CAST(length(chunk) AS INTEGER) AS chunk_len,
       md5(chunk)                     AS chunk_md5
FROM c
ORDER BY doc_id, chunk_idx
""",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: fixed 100-char windows at stride 80
    (20-char overlap), the standard RAG/pretraining doc-splitting shape.
    1->N explode of chunk indices, substring per chunk — all JVM
    expressions; only (doc_id, idx, len, digest) leave the map here.
    Guard: ``n_chunks >= 1`` always holds (min doc length 48 > 0), and
    the sequence bound is ``n-1 >= 0`` so Spark's descending-sequence
    trap (n < 1) cannot trigger."""
    docs = T(spark, sf_dir, "documents")
    n_chunks = F.expr("(length(text) + 79) div 80")
    chunk = F.col("text").substr(F.col("chunk_idx") * 80 + 1, F.lit(100))
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.length(chunk).alias("chunk_len"),
            F.md5(chunk.cast("binary")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "text_top_tokens",
    tags=("llm", "curation", "vocab"),
    oracle=r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM documents),
 counts AS (
  SELECT token,
         CAST(count(*) AS BIGINT)              AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM tok WHERE token <> ''
  GROUP BY token),
 ranked AS (
  SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank
  FROM counts)
SELECT CAST(rank AS INTEGER) AS rank, token, n_occurrences, n_docs
FROM ranked WHERE rank <= 20
ORDER BY rank
""",
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-20 tokens by occurrence count
    (vocab/BPE-prep shape). Word-count plan: explode is map-side, the
    groupBy does partial aggregation before the shuffle, so only
    (token, partial count) pairs cross the wire — never text. The final
    top-k is TakeOrderedAndProject over the aggregated token set plus a
    rank window over the surviving 20 rows (never a full-vocab window
    task — r14)."""
    from pyblazing_spark.operators.global_window import ranked_topk

    docs = T(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return (
        ranked_topk(counts, 20, F.desc("n_occurrences"), F.col("token"))
        .select("rank", "token", "n_occurrences", "n_docs")
        .orderBy("rank")
    )


@register(
    "dedup_incremental",
    tags=("llm", "dedup", "incremental"),
    oracle="""
WITH old AS (
  SELECT DISTINCT md5(substr(text, 1, 40)) AS k
  FROM documents WHERE doc_id % 2 = 0),
 new AS (
  SELECT doc_id, md5(substr(text, 1, 40)) AS k
  FROM documents WHERE doc_id % 2 = 1),
 tagged AS (
  SELECT doc_id,
         CASE WHEN k IN (SELECT k FROM old) THEN 'dropped' ELSE 'kept' END AS status
  FROM new)
SELECT status,
       CAST(count(*) AS BIGINT)  AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM tagged
GROUP BY status
ORDER BY status
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental dedup: a new batch (odd doc_ids) is deduped
    against an existing corpus snapshot (even doc_ids) on a 40-char
    content-prefix fingerprint — the shape of nightly crawl ingestion,
    where re-hashing the whole historical corpus is off the table. The
    join ships only 16-byte keys (broadcast-able when the snapshot key
    set fits; hash-join on keys otherwise); the text column never
    shuffles. ``id_sum`` makes the oracle sensitive to WHICH docs were
    dropped, not just how many."""
    docs = T(spark, sf_dir, "documents")
    key = F.md5(F.substring("text", 1, 40).cast("binary")).alias("k")
    old_keys = docs.where(F.col("doc_id") % 2 == 0).select(key).distinct()
    new = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", key)
    tagged = new.join(old_keys.withColumn("__hit", F.lit(1)), "k", "left").select(
        "doc_id",
        F.when(F.col("__hit").isNotNull(), "dropped").otherwise("kept").alias("status"),
    )
    return (
        tagged.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("status")
    )


@register(
    "sample_source_mixture",
    tags=("llm", "curation", "sampling"),
    oracle=f"""
WITH rated AS (
  SELECT source, doc_id, n_chars,
         CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
              THEN 60 ELSE 25 END AS rate,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              AS BIGINT) % 100 AS b
  FROM documents)
SELECT source,
       CAST(max(rate) AS INTEGER)      AS rate_pct,
       CAST(count(*) AS BIGINT)        AS n_total,
       CAST(sum(CASE WHEN b < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN b < rate THEN n_chars ELSE 0 END) AS BIGINT)
                                       AS kept_chars
FROM rated
GROUP BY source
ORDER BY source
""",
)
def sample_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture re-weighting: per-source deterministic sampling
    rates (even-numbered sources 60%, odd 25%) keyed on md5(doc_id) —
    how a training mix up-weights curated domains and down-weights
    crawl. Membership is a per-row expression (no RNG, no shuffle of
    text); adding data never resamples existing docs. Rates live in a
    CASE here; production would broadcast-join a (source, rate) table —
    identical plan shape."""
    docs = T(spark, sf_dir, "documents")
    rate = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, 60
    ).otherwise(25)
    b = hash_bucket("doc_id")
    kept = b < F.col("rate")
    return (
        docs.select("source", "doc_id", "n_chars", rate.alias("rate"))
        .withColumn("__kept", kept)
        .groupBy("source")
        .agg(
            F.max("rate").cast("int").alias("rate_pct"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("__kept"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("__kept"), F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
        )
        .orderBy("source")
    )


@register(
    "pipeline_merge_upsert",
    tags=("llm", "curation", "merge", "dml"),
    oracle="""
WITH snap AS (
  SELECT doc_id, text AS old_text FROM documents WHERE doc_id % 2 = 0),
 upd AS (
  SELECT doc_id, upper(substr(text, 1, 50)) AS new_text
  FROM documents WHERE doc_id % 4 <= 1),
 merged AS (
  SELECT coalesce(s.doc_id, u.doc_id) AS doc_id,
         coalesce(u.new_text, s.old_text) AS text,
         CASE WHEN s.doc_id IS NOT NULL AND u.doc_id IS NOT NULL THEN 'updated'
              WHEN u.doc_id IS NOT NULL THEN 'inserted'
              ELSE 'kept' END AS status
  FROM snap s FULL OUTER JOIN upd u ON s.doc_id = u.doc_id)
SELECT status,
       CAST(count(*) AS BIGINT)            AS n_docs,
       CAST(sum(doc_id) AS BIGINT)         AS id_sum,
       CAST(sum(length(text)) AS BIGINT)   AS total_chars
FROM merged GROUP BY status ORDER BY status
""",
)
def pipeline_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics for snapshot maintenance, DataFrame-native:
    an update batch (docs with ``doc_id % 4 <= 1`` carrying re-processed
    text) merges into the existing snapshot (even ids) — matched rows
    take the update's text, unmatched updates insert, untouched snapshot
    rows are kept. The reference has no DML surface at all; a
    training-data pipeline re-crawling sources needs exactly this shape
    nightly. ``id_sum``/``total_chars`` make the oracle sensitive to
    WHICH rows landed in each class and WHOSE text won each merge.

    Scale: one full-outer hash join on the snapshot key — with a
    bucketed snapshot layout (see ``sink_bucketed_join``) the
    snapshot side needs no exchange at all; classification and the
    text coalesce are scan-stage expressions. This is the computational
    core of Delta/Iceberg MERGE, expressed on plain parquet."""
    docs = T(spark, sf_dir, "documents")
    snap = docs.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("s_id"), F.col("text").alias("old_text")
    )
    upd = docs.where(F.col("doc_id") % 4 <= 1).select(
        F.col("doc_id").alias("u_id"),
        F.upper(F.substring("text", 1, 50)).alias("new_text"),
    )
    merged = snap.join(upd, snap.s_id == upd.u_id, "full_outer").select(
        F.coalesce("s_id", "u_id").alias("doc_id"),
        F.coalesce("new_text", "old_text").alias("text"),
        F.when(F.col("s_id").isNotNull() & F.col("u_id").isNotNull(), "updated")
        .when(F.col("u_id").isNotNull(), "inserted")
        .otherwise("kept")
        .alias("status"),
    )
    return (
        merged.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        .orderBy("status")
    )


def _txn_three_commit_table(
    spark: SparkSession, sf_dir: str, path: str, cdf: bool = False
):
    """The shared three-commit fixture history: create even-mod-4
    orders -> append mod-4=1 -> MERGE updating mod-4=0 prices
    (+100000) and inserting mod-4=2. Used by sink_txn_snapshot_log
    (snapshot reads), txn_change_feed (row-level diffs), and — with
    ``cdf=True`` — txn_change_feed_written (write-time CDF)."""
    from pyblazing_spark.sources.txn_table import TxnTable

    orders = T(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_totalprice"]
    t = TxnTable.create(
        spark,
        path,
        orders.where(F.col("o_orderkey") % 4 == 0).select(*cols),
        key="o_orderkey",
        cdf=cdf,
    )
    t.append(orders.where(F.col("o_orderkey") % 4 == 1).select(*cols))
    t.merge(
        orders.where(
            (F.col("o_orderkey") % 4 == 0) | (F.col("o_orderkey") % 4 == 2)
        ).select(
            "o_orderkey",
            (F.col("o_totalprice") + 100000).alias("o_totalprice"),
        )
    )
    return t


_TXN_ORACLE = """
WITH v1 AS (
  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
  WHERE o_orderkey % 4 = 0),
 v2 AS (
  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
  WHERE o_orderkey % 4 <= 1),
 v3 AS (
  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
  WHERE o_orderkey % 4 = 1
  UNION ALL
  SELECT o_orderkey, o_totalprice + 100000 FROM orders
  WHERE o_orderkey % 4 IN (0, 2)),
 snaps AS (
  SELECT 1 AS version, k, p FROM v1
  UNION ALL SELECT 2, k, p FROM v2
  UNION ALL SELECT 3, k, p FROM v3),
 rows_ AS (
  SELECT version, k, CAST(floor(p * 100 + 0.5) AS BIGINT) AS cents
  FROM snaps)
SELECT CAST(version AS INTEGER) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       COALESCE(bit_xor(CAST(('0x' || substring(
           md5(CAST(k AS VARCHAR) || ':' || CAST(cents AS VARCHAR)),
           3, 15))::BIGINT AS BIGINT)), 0) AS key_xor
FROM rows_ GROUP BY version ORDER BY version
"""


@register(
    "sink_txn_snapshot_log",
    tags=("sink", "txn", "snapshot", "merge", "time-travel", "superset"),
    oracle=_TXN_ORACLE,
)
def sink_txn_snapshot_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional table format end-to-end
    (:mod:`pyblazing_spark.sources.txn_table` — snapshot-isolation
    commit log over plain parquet, VERDICT r12 #5): a three-commit
    history (create even-mod-4 orders → append mod-4=1 → MERGE upsert
    updating mod-4=0 prices and inserting mod-4=2) followed by a
    TIME-TRAVEL read of every snapshot. The output aggregates each
    snapshot (row count, price cents mass, md5-h60 key⊕cents XOR
    checksum), so the oracle — which recomputes each version as pure
    set algebra over ``orders`` — validates the exact row SET visible
    at every version: create/append/merge semantics, upsert
    matched-vs-inserted classification, AND snapshot immutability (a
    merge that leaked into version 1's file set would flip v1's
    checksum). Reference analogue: none (the reference has no sinks or
    DML — SURVEY §2.8); protocol from the public Delta/Iceberg papers.

    Scale: commits are O(1) JSON files published put-if-absent; MERGE
    rewrites only files whose footer key-range intersects the source
    batch (file skipping measured in test_merge_skips_disjoint_files);
    snapshot reads are plain distributed parquet scans of the live
    file list. Concurrent-writer safety is optimistic retry
    (test_concurrent_appends_all_land races 8 appenders)."""
    import shutil
    import tempfile

    from pyblazing_spark.sources.txn_table import TxnTable

    out_dir = tempfile.mkdtemp(prefix="txn_snapshot_log_")
    try:
        t = _txn_three_commit_table(spark, sf_dir, os.path.join(out_dir, "t"))
        frames = []
        for v in (1, 2, 3):
            cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            snap = t.read(version=v).select(
                F.lit(v).cast("int").alias("version"),
                F.col("o_orderkey").alias("k"),
                cents.alias("cents"),
            )
            h60 = F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("k").cast("string"),
                            F.col("cents").cast("string"),
                        ).cast("binary")
                    ),
                    3,
                    15,
                ),
                16,
                10,
            ).cast("long")
            frames.append(
                snap.groupBy("version").agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum("cents").cast("long").alias("total_cents"),
                    F.coalesce(F.bit_xor(h60), F.lit(0))
                    .cast("long")
                    .alias("key_xor"),
                )
            )
        out = frames[0]
        for fdf in frames[1:]:
            out = out.unionByName(fdf)
        # lifetime: the snapshots are read before out_dir is removed
        return out.orderBy("version").localCheckpoint()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


_CDF_H60 = (
    "CAST(('0x' || substring(md5(CAST(k AS VARCHAR) || ':' || "
    "CAST(cents AS VARCHAR)), 3, 15))::BIGINT AS BIGINT)"
)


_CDF_FEED_ORACLE = f"""
WITH ch AS (
  SELECT 2 AS version, 'insert' AS change_type,
         o_orderkey AS k, o_totalprice AS p
  FROM orders WHERE o_orderkey % 4 = 1
  UNION ALL
  SELECT 3, 'update_postimage', o_orderkey, o_totalprice + 100000
  FROM orders WHERE o_orderkey % 4 = 0
  UNION ALL
  SELECT 3, 'insert', o_orderkey, o_totalprice + 100000
  FROM orders WHERE o_orderkey % 4 = 2),
 r AS (SELECT version, change_type, k,
              CAST(floor(p * 100 + 0.5) AS BIGINT) AS cents
       FROM ch)
SELECT CAST(version AS INTEGER) AS version, change_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       COALESCE(bit_xor({_CDF_H60}), 0) AS key_xor
FROM r GROUP BY version, change_type ORDER BY version, change_type
"""


def _cdf_feed_rollup(feed: DataFrame) -> DataFrame:
    """Shared (version, change_type) rollup both change-feed entries
    aggregate their row-level feed into: count, cents mass, md5-h60
    key⊕cents XOR — proves the exact change-row SET per class."""
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    rows = feed.select(
        F.col("_commit_version").alias("version"),
        F.col("_change_type").alias("change_type"),
        F.col("o_orderkey").alias("k"),
        cents.alias("cents"),
    )
    h60 = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("k").cast("string"),
                    F.col("cents").cast("string"),
                ).cast("binary")
            ),
            3,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        rows.groupBy("version", "change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.coalesce(F.bit_xor(h60), F.lit(0))
            .cast("long")
            .alias("key_xor"),
        )
        .orderBy("version", "change_type")
    )


@register(
    "txn_change_feed",
    tags=("sink", "txn", "cdf", "incremental", "superset"),
    oracle=_CDF_FEED_ORACLE,
)
def txn_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over the transactional table
    (:meth:`TxnTable.change_feed` — the Delta CDF concept): row-level
    inserts / update-postimages / deletes per commit version,
    reconstructed by key-diffing consecutive snapshots of the shared
    three-commit history. The oracle recomputes every change class as
    set algebra over ``orders``, so a misclassified change (an update
    reported as insert, a leaked delete, a wrong postimage price) flips
    a row. This is the primitive that makes downstream 100-TB
    pipelines INCREMENTAL: consumers join the feed, not the table.

    Scale: two snapshot scans + one key-join per diffed version; a
    production write-time CDF (persisting each merge's rewrite delta
    with the commit) emits the same frame with zero extra scans —
    documented upgrade path in the operator."""
    import shutil
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="txn_cdf_")
    try:
        t = _txn_three_commit_table(spark, sf_dir, os.path.join(out_dir, "t"))
        # lifetime: the table is read before out_dir is removed
        return _cdf_feed_rollup(t.change_feed(1)).localCheckpoint()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


@register(
    "txn_change_feed_written",
    tags=("sink", "txn", "cdf", "incremental", "write-time", "superset"),
    oracle=_CDF_FEED_ORACLE,
)
def txn_change_feed_written(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-TIME change data feed (Delta's enableChangeDataFeed —
    ``TxnTable.create(..., cdf=True)``): the same three-commit history
    and the same oracle as ``txn_change_feed``, but every commit
    PERSISTED its change rows at write time (``cdf_add`` manifests /
    insert-only add derivation), so the feed is a plain parquet read of
    exactly the change rows — zero snapshot scans, zero key-joins at
    read time. The entry asserts that contract structurally (every
    post-create commit carries CDF metadata; the feed's scan set is the
    change/add files only) and the shared oracle then proves the
    persisted rows are VALUE-identical to the reconstructed diff: a
    wrong write-time classification (an unchanged upsert emitted, a
    missed update, a lost delete pre-image) flips a checksum.

    Scale: this closes change_feed's documented O(2 scans + join per
    version) reader cost — at 100 TB the feed reader touches only
    change-row parquet, and the writer pays one diff-join against the
    files it was already rewriting."""
    import shutil
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="txn_cdf_written_")
    try:
        t = _txn_three_commit_table(
            spark, sf_dir, os.path.join(out_dir, "t"), cdf=True
        )
        head = t.latest_version()
        for v in range(2, head + 1):
            e = t._load_commit(v)
            if not ("cdf_add" in e or e.get("cdf_from_add")):
                raise AssertionError(
                    f"commit {v} lacks write-time CDF metadata"
                )
        feed = t.change_feed(1)
        allowed = set()
        for v in range(2, head + 1):
            e = t._load_commit(v)
            entries = e["cdf_add"] if "cdf_add" in e else e["add"]
            allowed.update(
                os.path.join(t.path, a["path"]) for a in entries
            )
        scanned = {
            f.replace("file://", "", 1) if f.startswith("file://") else f
            for f in feed.inputFiles()
        }
        if not scanned <= allowed:
            raise AssertionError(
                "write-time feed scanned snapshot files: "
                f"{sorted(scanned - allowed)[:3]}"
            )
        # lifetime: the feed is read before out_dir is removed
        return _cdf_feed_rollup(feed).localCheckpoint()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


@register(
    "txn_data_skipping",
    bench=True,  # r14: the txn family's perf tracker (VERDICT r13 #5)
    tags=("sink", "txn", "data-skipping", "superset"),
    oracle="""
WITH probe AS (
  SELECT 'max_key' AS probe, o_orderkey AS k, o_totalprice AS p
  FROM orders WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)
  UNION ALL
  SELECT 'min_key', o_orderkey, o_totalprice
  FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
  UNION ALL
  SELECT 'range', o_orderkey, o_totalprice
  FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000),
 r AS (SELECT probe, k, CAST(floor(p * 100 + 0.5) AS BIGINT) AS cents
       FROM probe)
SELECT probe,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       COALESCE(bit_xor(CAST(('0x' || substring(
           md5(CAST(k AS VARCHAR) || ':' || CAST(cents AS VARCHAR)),
           3, 15))::BIGINT AS BIGINT)), 0) AS key_xor
FROM r GROUP BY probe ORDER BY probe
""",
)
def txn_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST-level data skipping on the transactional table
    (``TxnTable.read(key_between=)``): a RANGE-CLUSTERED layout
    (repartitionByRange write → tight per-file [min,max]) serves a
    key-range read from a strict subset of its files, and a
    HASH-BUCKETED layout serves point lookups from exactly ONE file —
    both pruned from the manifest BEFORE Spark lists a single path.
    The entry RAISES if the prune did not actually skip files (the
    100-TB property is part of the contract, not a comment), then
    value-compares all three probes against plain filters over
    ``orders``. Probe keys (min/max) are bounded scalar collects the
    oracle re-derives in SQL."""
    import shutil
    import tempfile

    from pyblazing_spark.sources.txn_table import TxnTable

    # One parquet scan per invocation (r15, guide §6): the projected
    # frame feeds the min/max agg, the range-clustered create (whose
    # repartitionByRange additionally SAMPLES its input) and the
    # bucketed create — 3+ scans without the materialization. RDD-keyed
    # localCheckpoint inside the timed region; no cross-run caching.
    orders = (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .localCheckpoint()
    )
    row = orders.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).collect()[0]
    if row["lo"] is None:  # empty table: stable schema, zero rows
        return local_frame(
            spark,
            [],
            "probe string, n_rows long, total_cents long, key_xor long",
        )
    kmin, kmax = int(row["lo"]), int(row["hi"])
    base = tempfile.mkdtemp(prefix="txn_skip_")
    try:
        # range-clustered table: 8 files, each a tight key slice
        tr = TxnTable.create(
            spark,
            os.path.join(base, "ranged"),
            orders.repartitionByRange(8, "o_orderkey"),
            key="o_orderkey",
        )
        # hash-bucketed table: one file per bucket
        tb = TxnTable.create(
            spark,
            os.path.join(base, "bucketed"),
            orders,
            key="o_orderkey",
            n_buckets=8,
        )
        ranged = tr.read(key_between=(1000, 5000))
        if not len(ranged.inputFiles()) < len(tr._live_files()):
            raise AssertionError(
                "range prune scanned every file "
                f"({len(ranged.inputFiles())}/{len(tr._live_files())})"
            )
        probes = []
        for label, frame in (
            ("range", ranged),
            ("min_key", tb.read(key_between=(kmin, kmin))),
            ("max_key", tb.read(key_between=(kmax, kmax))),
        ):
            if label != "range" and len(frame.inputFiles()) != 1:
                raise AssertionError(
                    f"{label}: bucket point lookup scanned "
                    f"{len(frame.inputFiles())} files, expected 1"
                )
            cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            probes.append(
                frame.select(
                    F.lit(label).alias("probe"),
                    F.col("o_orderkey").alias("k"),
                    cents.alias("cents"),
                )
            )
        rows = probes[0]
        for p in probes[1:]:
            rows = rows.unionByName(p)
        h60 = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("k").cast("string"),
                        F.col("cents").cast("string"),
                    ).cast("binary")
                ),
                3,
                15,
            ),
            16,
            10,
        ).cast("long")
        # lifetime: the probes are read before base is removed
        return (
            rows.groupBy("probe")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("total_cents"),
                F.coalesce(F.bit_xor(h60), F.lit(0))
                .cast("long")
                .alias("key_xor"),
            )
            .orderBy("probe")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "pipeline_scd2",
    tags=("pipeline", "warehouse", "scd2", "window"),
    oracle="""
WITH o AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
  FROM orders WHERE o_custkey < 40),
 flagged AS (
  SELECT *,
         CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
              THEN 1 ELSE 0 END AS chg
  FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
 runs AS (
  SELECT *, sum(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged),
 versions AS (
  SELECT o_custkey, island, min(o_orderpriority) AS priority,
         CAST(min(o_orderdate) AS TIMESTAMP) AS valid_from,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM runs GROUP BY o_custkey, island)
SELECT o_custkey AS custkey,
       CAST(row_number() OVER v AS INTEGER) AS version,
       priority, valid_from,
       lead(valid_from) OVER v AS valid_to,
       n_orders,
       CASE WHEN lead(valid_from) OVER v IS NULL THEN true ELSE false END AS is_current
FROM versions WINDOW v AS (PARTITION BY o_custkey ORDER BY valid_from, island)
ORDER BY custkey, version
""",
)
def pipeline_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension type-2 build: collapse each customer's
    order-priority history into versioned validity intervals
    (gaps-and-islands -> [valid_from, valid_to) rows, open-ended
    current version flagged).

    Scale plan: ONE shuffle on the dimension key (custkey) serves both
    windows and the island aggregation — Catalyst reuses the
    partitioning across the lag, the running sum, and the groupBy,
    because they all key on the same column. At 100 TB the change-log
    scan partials down to (key, attr, ts) triples before that shuffle;
    no self-join, no per-version pass — the standard distributed SCD2
    formulation."""
    o = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_custkey") < 40)
        .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    )
    wseq = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = o.withColumn(
        "chg",
        F.when(
            ~F.lag("o_orderpriority").over(wseq).eqNullSafe(F.col("o_orderpriority")),
            1,
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "island",
        F.sum("chg").over(wseq.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    versions = runs.groupBy("o_custkey", "island").agg(
        F.min("o_orderpriority").alias("priority"),
        F.min("o_orderdate").cast("timestamp").alias("valid_from"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    wver = W.partitionBy("o_custkey").orderBy("valid_from", "island")
    return (
        versions.select(
            F.col("o_custkey").alias("custkey"),
            F.row_number().over(wver).cast("int").alias("version"),
            "priority",
            "valid_from",
            F.lead("valid_from").over(wver).alias("valid_to"),
            "n_orders",
            F.lead("valid_from").over(wver).isNull().alias("is_current"),
        )
        .orderBy("custkey", "version")
    )


_CHUNK_W = 256  # chunk width (chars)
_CHUNK_S = 192  # stride (chars) -> 64-char overlap between neighbors


@register(
    "pipeline_chunk_overlap",
    tags=("pipeline", "chunking", "llm"),
    oracle=f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id < 200 AND length(text) > 0),
 idx AS (
  SELECT doc_id, text,
         unnest(generate_series(
           0, CAST((length(text) - 1) // {_CHUNK_S} AS BIGINT))) AS i
  FROM docs),
 chunks AS (
  SELECT doc_id,
         CAST(i AS INTEGER) AS chunk_idx,
         CAST(i * {_CHUNK_S} + 1 AS BIGINT) AS pos,
         substr(text, CAST(i * {_CHUNK_S} + 1 AS INTEGER), {_CHUNK_W}) AS chunk
  FROM idx)
SELECT doc_id, chunk_idx, pos,
       CAST(length(chunk) AS INTEGER) AS chunk_len,
       md5(chunk)                      AS chunk_md5
FROM chunks
ORDER BY doc_id, chunk_idx
""",
)
def pipeline_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunking — the RAG-indexing /
    long-context packing primitive: each document is split into
    256-char chunks every 192 chars (so neighboring chunks share
    64 chars of context and no boundary sentence is lost).
    Emits (doc_id, chunk_idx, pos, len, md5) — the md5 makes the oracle
    byte-exact on chunk CONTENT, not just geometry.

    Scale shape: pure scan-stage codegen — explode a per-doc integer
    position sequence, then substring; no shuffle at all before the
    presentation sort, no Python, and the explode factor is bounded by
    doc length / stride. At 100 TB chunking is a narrow map whose
    output feeds the embedding/packing stages; the bounded doc_id < 200
    slice keeps the driver compare small while exercising ragged tail
    chunks (len(text) mod stride != 0) and single-chunk short docs.
    """
    docs = T(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 200) & (F.length("text") > 0)
    )
    w, s = _CHUNK_W, _CHUNK_S
    chunks = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(0), ((F.length("text") - 1) / s).cast("long"))
        ).alias("i"),
    ).select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_idx"),
        (F.col("i") * s + 1).alias("pos"),
        F.expr(f"substring(text, CAST(i * {s} + 1 AS INT), {w})").alias("chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "pos",
        F.length("chunk").cast("int").alias("chunk_len"),
        F.md5(F.col("chunk").cast("binary")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


_MIX_T = 2.0  # mixture temperature (1 = proportional, inf -> uniform)


@register(
    "pipeline_domain_mixture",
    tags=("pipeline", "mixture", "llm"),
    oracle=f"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source),
 tot AS (SELECT sum(n_tokens) AS t FROM per),
 sc AS (
  SELECT source, n_docs, n_tokens,
         n_tokens * 1.0 / t                    AS p,
         pow(n_tokens * 1.0 / t, 1.0 / {_MIX_T}) AS u
  FROM per CROSS JOIN tot),
 z AS (SELECT sum(u) AS zu FROM sc)
SELECT source, n_docs, n_tokens,
       round(p + 1e-9, 4)           AS token_share,
       round(u / zu + 1e-9, 4)      AS mixture_weight,
       round(u / zu / p + 1e-9, 4)  AS oversample
FROM sc CROSS JOIN z
ORDER BY source
""",
)
def pipeline_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain-mixture reweighting — the standard
    multilingual/multi-domain sampling recipe (q_s ∝ p_s^(1/T), T=2,
    as used for mC4/XLM-R-style corpus balancing): per source, token
    mass p_s, smoothed mixture weight q_s, and the oversampling factor
    q_s/p_s a sampler applies so low-resource domains are up-weighted
    without drowning the head.

    Scale shape: one word-count-shaped pass (shuffle carries only
    (source, partial sums)); the per-source frame (a handful of rows)
    then broadcast-cross-joins its own totals twice. At 100 TB this is
    a metadata-sized computation over a corpus-sized scan — the weights
    feed `sample_*`'s deterministic hash samplers."""
    from pyblazing_spark.functions import text as TXT

    docs = T(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TXT.token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("__t"))
    sc = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("__t")).alias("__p"),
        F.pow(F.col("n_tokens") / F.col("__t"), 1.0 / _MIX_T).alias("__u"),
    )
    z = sc.agg(F.sum("__u").alias("__zu"))
    return (
        sc.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("__p") + 1e-9, 4).alias("token_share"),
            F.round(F.col("__u") / F.col("__zu") + 1e-9, 4).alias("mixture_weight"),
            F.round(F.col("__u") / F.col("__zu") / F.col("__p") + 1e-9, 4).alias(
                "oversample"
            ),
        )
        .orderBy("source")
    )


_PRIORITY_ENUM = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_LANG_ENUM = ("en", "fr", "es", "zh", "de")
_PRICE_CAP = 400000.0
_MIN_DOC_CHARS = 50


@register(
    "pipeline_schema_validate",
    tags=("pipeline", "quality", "contract"),
    oracle=f"""
WITH o AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE o_totalprice > {_PRICE_CAP}) AS BIGINT)
           AS v_price,
         CAST(count(*) FILTER (WHERE o_orderpriority NOT IN
           ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'))
           AS BIGINT) AS v_enum,
         CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS v_null,
         CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT) AS v_fk
  FROM orders LEFT JOIN customer c ON o_custkey = c.c_custkey),
 d AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE length(text) <> n_chars) AS BIGINT)
           AS v_len,
         CAST(count(*) FILTER (WHERE lang NOT IN
           ('en', 'fr', 'es', 'zh', 'de')) AS BIGINT) AS v_lang,
         CAST(count(*) FILTER (WHERE n_chars < {_MIN_DOC_CHARS}) AS BIGINT)
           AS v_min
  FROM documents),
 rules AS (
  SELECT 'documents.lang_enum' AS rule, n, v_lang AS n_violations FROM d
  UNION ALL SELECT 'documents.len_integrity', n, v_len FROM d
  UNION ALL SELECT 'documents.min_chars', n, v_min FROM d
  UNION ALL SELECT 'orders.custkey_fk', n, v_fk FROM o
  UNION ALL SELECT 'orders.custkey_not_null', n, v_null FROM o
  UNION ALL SELECT 'orders.price_cap', n, v_price FROM o
  UNION ALL SELECT 'orders.priority_enum', n, v_enum FROM o)
SELECT rule,
       n                         AS n_checked,
       n_violations,
       round(n_violations / n + 1e-9, 4) AS violation_rate
FROM rules
ORDER BY rule
""",
)
def pipeline_schema_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation report: evaluate a declared rule set
    (range cap, enum membership, NOT-NULL, referential integrity,
    derived-column integrity, minimum length) and emit one row per rule
    with checked/violation counts and the violation rate.

    The pipeline gate that runs before any training-data snapshot
    ships. Scale shape: ALL single-table rules for a table compute in
    ONE scan as conditional-count aggregates (map-side partials, a
    one-row shuffle), then unpivot via ``stack`` — never one job per
    rule. The referential rule rides the same single orders scan as a
    LEFT join against the broadcast customer key set, so adding it
    costs no extra pass. At 100 TB: two table scans total for seven
    rules, no text/wide columns in any exchange, and the report is
    seven rows regardless of input size. The price-cap rule carries
    real violations at every fixture SF (the others certify the
    all-pass path), so the report is non-vacuous."""
    cust_keys = T(spark, sf_dir, "customer").select("c_custkey")
    orders = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderpriority"
    )
    o_agg = (
        orders.join(
            F.broadcast(cust_keys),
            orders.o_custkey == cust_keys.c_custkey,
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_totalprice") > _PRICE_CAP, 1).otherwise(0)
            ).alias("v_price"),
            F.sum(
                F.when(~F.col("o_orderpriority").isin(*_PRIORITY_ENUM), 1)
                .otherwise(0)
            ).alias("v_enum"),
            F.sum(
                F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
            ).alias("v_null"),
            F.sum(
                F.when(F.col("c_custkey").isNull(), 1).otherwise(0)
            ).alias("v_fk"),
        )
    )
    o_rules = o_agg.select(
        F.expr(
            "stack(4,"
            " 'orders.custkey_fk', v_fk,"
            " 'orders.custkey_not_null', v_null,"
            " 'orders.price_cap', v_price,"
            " 'orders.priority_enum', v_enum) AS (rule, n_violations)"
        ),
        F.col("n"),
    )
    docs = T(spark, sf_dir, "documents").select("text", "lang", "n_chars")
    d_agg = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.length("text") != F.col("n_chars"), 1).otherwise(0)
        ).alias("v_len"),
        F.sum(
            F.when(~F.col("lang").isin(*_LANG_ENUM), 1).otherwise(0)
        ).alias("v_lang"),
        F.sum(
            F.when(F.col("n_chars") < _MIN_DOC_CHARS, 1).otherwise(0)
        ).alias("v_min"),
    )
    d_rules = d_agg.select(
        F.expr(
            "stack(3,"
            " 'documents.lang_enum', v_lang,"
            " 'documents.len_integrity', v_len,"
            " 'documents.min_chars', v_min) AS (rule, n_violations)"
        ),
        F.col("n"),
    )
    return (
        o_rules.unionByName(d_rules)
        .select(
            "rule",
            F.col("n").alias("n_checked"),
            "n_violations",
            F.round(
                F.col("n_violations") / F.col("n") + 1e-9, 4
            ).alias("violation_rate"),
        )
        .orderBy("rule")
    )


@register(
    "pipeline_snapshot_diff",
    tags=("pipeline", "reconciliation", "cdc", "drift"),
    bench=True,  # scale-critical: regressions must be visible per-round (r7 #8)
    oracle="""
WITH old AS (
  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS stat,
         o_orderpriority AS prio
  FROM orders WHERE o_orderkey % 11 <> 0),
 new AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 5 = 0
              THEN round(o_totalprice * 1.1, 2) ELSE o_totalprice END AS price,
         o_orderstatus AS stat,
         CASE WHEN o_orderkey % 17 = 0
              THEN '9-RECRAWL' ELSE o_orderpriority END AS prio
  FROM orders WHERE o_orderkey % 13 <> 0),
 d AS MATERIALIZED (
  SELECT coalesce(o.k, n.k) AS k,
         (o.k IS NULL)                               AS is_add,
         (n.k IS NULL)                               AS is_rm,
         (o.k IS NOT NULL AND n.k IS NOT NULL
          AND o.price IS DISTINCT FROM n.price)      AS chg_price,
         (o.k IS NOT NULL AND n.k IS NOT NULL
          AND o.stat IS DISTINCT FROM n.stat)        AS chg_stat,
         (o.k IS NOT NULL AND n.k IS NOT NULL
          AND o.prio IS DISTINCT FROM n.prio)        AS chg_prio
  FROM old o FULL OUTER JOIN new n ON o.k = n.k),
 agg AS MATERIALIZED (
  SELECT
    sum(CASE WHEN is_add THEN 1 ELSE 0 END) AS n_add,
    sum(CASE WHEN is_add THEN k ELSE 0 END) AS ks_add,
    sum(CASE WHEN is_rm THEN 1 ELSE 0 END) AS n_rm,
    sum(CASE WHEN is_rm THEN k ELSE 0 END) AS ks_rm,
    sum(CASE WHEN chg_price OR chg_stat OR chg_prio THEN 1 ELSE 0 END) AS n_chg,
    sum(CASE WHEN chg_price OR chg_stat OR chg_prio THEN k ELSE 0 END) AS ks_chg,
    sum(CASE WHEN NOT (is_add OR is_rm OR chg_price OR chg_stat OR chg_prio)
             THEN 1 ELSE 0 END) AS n_same,
    sum(CASE WHEN NOT (is_add OR is_rm OR chg_price OR chg_stat OR chg_prio)
             THEN k ELSE 0 END) AS ks_same,
    sum(CASE WHEN chg_price THEN 1 ELSE 0 END) AS n_price,
    sum(CASE WHEN chg_price THEN k ELSE 0 END) AS ks_price,
    sum(CASE WHEN chg_stat THEN 1 ELSE 0 END) AS n_stat,
    sum(CASE WHEN chg_stat THEN k ELSE 0 END) AS ks_stat,
    sum(CASE WHEN chg_prio THEN 1 ELSE 0 END) AS n_prio,
    sum(CASE WHEN chg_prio THEN k ELSE 0 END) AS ks_prio
  FROM d)
SELECT item, CAST(n AS BIGINT) AS n, CAST(key_sum AS BIGINT) AS key_sum
FROM (
  SELECT 'added' AS item, n_add AS n, ks_add AS key_sum FROM agg
  UNION ALL SELECT 'removed', n_rm, ks_rm FROM agg
  UNION ALL SELECT 'changed', n_chg, ks_chg FROM agg
  UNION ALL SELECT 'unchanged', n_same, ks_same FROM agg
  UNION ALL SELECT 'col:o_totalprice', n_price, ks_price FROM agg
  UNION ALL SELECT 'col:o_orderstatus', n_stat, ks_stat FROM agg
  UNION ALL SELECT 'col:o_orderpriority', n_prio, ks_prio FROM agg)
ORDER BY item
""",
)
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation with COLUMN-LEVEL drift: given two
    versions of a table (yesterday's crawl vs today's re-crawl), report
    added/removed/changed/unchanged row counts AND, for the changed
    rows, WHICH columns drifted — the data-diff report every recurring
    ingestion pipeline runs before promoting a snapshot, and the part
    ``pipeline_merge_upsert`` (presence classification only) does not
    cover. ``key_sum`` per item makes the oracle sensitive to WHICH
    rows landed in each class, not just how many.

    The new version is derived deterministically from the same source
    (a price restatement on ``k % 5 = 0``, a priority override on
    ``k % 17 = 0``, churn via different key filters), so both engines
    rebuild both versions independently; ``o_orderstatus`` never
    changes, pinning that a clean column reports exactly zero.

    Scale: ONE hash exchange per side on the 8-byte key (zero with a
    bucketed snapshot layout, cf. ``sink_bucketed_join``); per-row
    comparison is scan-stage codegen via null-safe equality; the
    CLAUDE-one-pass shape — all fourteen conditional aggregates in a
    single Aggregate over the join, unpivoted with ``stack`` — so the
    join output is traversed once. Floats are compared within-engine
    only (counts and integer key sums are the only outputs), so no
    cross-engine float tolerance is involved."""
    orders = T(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_totalprice").alias("o_price"),
        F.col("o_orderstatus").alias("o_stat"),
        F.col("o_orderpriority").alias("o_prio"),
    )
    new = orders.where(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("nk"),
        F.when(
            F.col("o_orderkey") % 5 == 0,
            F.round(F.col("o_totalprice") * 1.1, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("n_price"),
        F.col("o_orderstatus").alias("n_stat"),
        F.when(F.col("o_orderkey") % 17 == 0, F.lit("9-RECRAWL"))
        .otherwise(F.col("o_orderpriority"))
        .alias("n_prio"),
    )
    matched = F.col("ok").isNotNull() & F.col("nk").isNotNull()
    d = old.join(new, old.ok == new.nk, "full_outer").select(
        F.coalesce("ok", "nk").alias("k"),
        F.col("ok").isNull().alias("is_add"),
        F.col("nk").isNull().alias("is_rm"),
        (matched & ~F.col("o_price").eqNullSafe(F.col("n_price"))).alias("chg_price"),
        (matched & ~F.col("o_stat").eqNullSafe(F.col("n_stat"))).alias("chg_stat"),
        (matched & ~F.col("o_prio").eqNullSafe(F.col("n_prio"))).alias("chg_prio"),
    )
    chg = F.col("chg_price") | F.col("chg_stat") | F.col("chg_prio")
    same = ~(F.col("is_add") | F.col("is_rm") | chg)

    def _pair(cond, tag):  # count + key-sum of a row class
        return [
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"n_{tag}"),
            F.sum(F.when(cond, F.col("k")).otherwise(0)).alias(f"ks_{tag}"),
        ]

    agg = d.agg(
        *_pair(F.col("is_add"), "add"),
        *_pair(F.col("is_rm"), "rm"),
        *_pair(chg, "chg"),
        *_pair(same, "same"),
        *_pair(F.col("chg_price"), "price"),
        *_pair(F.col("chg_stat"), "stat"),
        *_pair(F.col("chg_prio"), "prio"),
    )
    return (
        agg.select(
            F.expr(
                "stack(7,"
                " 'added', n_add, ks_add,"
                " 'removed', n_rm, ks_rm,"
                " 'changed', n_chg, ks_chg,"
                " 'unchanged', n_same, ks_same,"
                " 'col:o_totalprice', n_price, ks_price,"
                " 'col:o_orderstatus', n_stat, ks_stat,"
                " 'col:o_orderpriority', n_prio, ks_prio)"
                " AS (item, n, key_sum)"
            )
        )
        .select("item", F.col("n").cast("long"), F.col("key_sum").cast("long"))
        .orderBy("item")
    )


@register(
    "sink_compaction",
    tags=("sink", "maintenance", "compaction", "small-files"),
    oracle="""
SELECT CAST(o_orderpriority AS VARCHAR)   AS o_orderpriority,
       CAST(count(*) AS BIGINT)           AS n,
       CAST(sum(o_orderkey) AS BIGINT)    AS key_sum,
       round(sum(o_totalprice) + 1e-4, 2) AS total,
       -- Spark writes NO file for an empty round-robin partition, so a
       -- slice smaller than 64 rows fragments into row_count files.
       CAST(least(64, (SELECT count(*) FROM orders WHERE o_orderstatus = 'F'))
            AS INTEGER)                   AS n_files_before,
       TRUE                               AS layout_ok
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the OPTIMIZE half of table maintenance
    (:func:`pyblazing_spark.sources.sinks.compact_files`): a filtered
    orders slice is first written deliberately FRAGMENTED (64 files via
    round-robin repartition — the state streaming ingest leaves a table
    in), then bin-packed into target-size files with a shuffle-free
    ``coalesce`` rewrite, then read BACK and aggregated. The oracle
    recomputes the aggregate from the source table, so a row lost,
    duplicated, or mistyped anywhere in the fragment->compact->read
    cycle fails the value compare; ``n_files_before`` pins the
    fragmentation really happened and ``layout_ok`` pins the compacted
    layout (>=1 file, strictly fewer than before, within the
    ceil(bytes/target) bin-packing bound +1 for the non-splittable
    remainder) — file COUNTS after compaction depend on parquet
    encoding sizes, so the booleans, not the raw counts, are the
    engine-portable contract (cf. ``psnr_ok`` in the codec entries).

    Scale: compaction is the one table-maintenance job every 100 TB
    deployment runs nightly; the ``coalesce`` path moves each byte
    exactly twice (read + write) with NO Exchange in the plan
    (plan-audited in tests), and the driver only ever touches file
    METADATA (one listing per directory)."""
    import shutil
    import tempfile

    from pyblazing_spark.sources.sinks import compact_files, write_files

    base = tempfile.mkdtemp(prefix="sink_compact_")
    frag_dir, packed_dir = f"{base}/frag", f"{base}/packed"
    try:
        od = (
            T(spark, sf_dir, "orders")
            .where(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_totalprice", "o_orderpriority")
        )
        n_rows = od.count()
        write_files(od.repartition(64), frag_dir)
        stats = compact_files(spark, frag_dir, packed_dir, target_bytes=4 << 20)
        layout_ok = (
            stats["n_files_before"] == min(64, n_rows)
            and 1 <= stats["n_files_after"] < stats["n_files_before"]
            and stats["n_files_after"] <= stats["target_files"] + 1
        )
        back = spark.read.schema(
            "o_orderkey bigint, o_totalprice double, o_orderpriority string"
        ).parquet(packed_dir)
        return (
            back.groupBy(
                F.col("o_orderpriority").cast("string").alias("o_orderpriority")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").alias("key_sum"),
                F.round(F.sum("o_totalprice") + 1e-4, 2).alias("total"),
            )
            .withColumn("n_files_before", F.lit(stats["n_files_before"]).cast("int"))
            .withColumn("layout_ok", F.lit(bool(layout_ok)))
            .orderBy("o_orderpriority")
            # materialize BEFORE the temp dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


_SHARDS = 8


@register(
    "pipeline_shard_manifest",
    tags=("llm", "pipeline", "sharding", "manifest"),
    oracle=f"""
WITH sharded AS (
  SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              AS BIGINT) % {_SHARDS} AS shard,
         doc_id, n_chars,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 3, 15))::BIGINT
              AS BIGINT) AS id_h60
  FROM documents)
SELECT shard,
       CAST(count(*) AS BIGINT)     AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS bytes,
       CAST(min(doc_id) AS BIGINT)  AS min_id,
       CAST(max(doc_id) AS BIGINT)  AS max_id,
       bit_xor(id_h60)              AS id_checksum
FROM sharded
GROUP BY shard
ORDER BY shard
""",
)
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment + manifest — the write-side bookkeeping
    every large corpus export needs: each document lands in a
    deterministic md5 shard (engine/partitioning/row-order independent,
    so re-exports are stable), and the per-shard manifest records row
    count, byte mass, id range, and a 60-bit XOR id-checksum that a
    reader can re-derive to verify shard integrity without trusting the
    writer.

    Scale: shard assignment is scan-stage codegen; the manifest is ONE
    aggregation shuffled on the shard id. The checksum is bit_xor of a
    per-id md5-derived 60-bit value — COMMUTATIVE, so partial/final
    aggregation order cannot change it and no sorted collect_list is
    needed (the trap a string_agg checksum would hit at 100 TB).
    Oracle: DuckDB recomputes the identical md5 hex parsing and XOR."""
    docs = T(spark, sf_dir, "documents")
    md5s = F.md5(F.col("doc_id").cast("string").cast("binary"))
    sharded = docs.select(
        (F.conv(F.substring(md5s, 1, 8), 16, 10).cast("long") % _SHARDS).alias(
            "shard"
        ),
        "doc_id",
        "n_chars",
        F.conv(F.substring(md5s, 3, 15), 16, 10).cast("long").alias("id_h60"),
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("bytes"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.bit_xor("id_h60").alias("id_checksum"),
        )
        .orderBy("shard")
    )


_DP_EPS = 0.5  # release epsilon: Laplace scale b = sensitivity/eps = 2.0


@register(
    "pipeline_dp_release",
    tags=("pipeline", "privacy", "dp", "curation"),
    oracle=f"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
 noised AS (
  SELECT source, n,
         (('0x' || substring(md5(source), 1, 8))::BIGINT % 999999 + 1)
           / 1000000.0 - 0.5 AS c
  FROM per),
 lap AS (
  SELECT source, n,
         CASE WHEN c = 0 THEN 0.0
              ELSE -(1.0 / {_DP_EPS}) * sign(c) * ln(1 - 2 * abs(c)) END AS noise
  FROM noised)
SELECT source,
       CAST(n + CAST(round(noise + 1e-9) AS BIGINT) AS BIGINT) AS n_released,
       round(noise + 1e-9, 4) AS noise
FROM lap ORDER BY source
""",
)
def pipeline_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-shaped noisy count release (per-source doc
    counts + Laplace(1/eps) noise, eps=0.5) — the data-card pattern for
    publishing corpus composition without exact counts. Noise is drawn
    by INVERSE-CDF from an md5-derived uniform of the group key, so the
    release is deterministic and the DuckDB oracle recomputes it
    bit-for-bit — the same portable-hash convention as every sampler
    here. A production release swaps the hash-uniform for a secure RNG
    (one line); the Spark plan — one count aggregate, noise as a scalar
    projection over the GROUP-sized frame — is unchanged at any scale,
    because the noise math never touches the fact table.

    Laplace inverse CDF: u ~ U(0,1), c = u - 1/2,
    noise = -b * sign(c) * ln(1 - 2|c|), b = 1/eps.  The uniform is
    ``(hash % 999999 + 1) / 1e6`` — clamped AWAY from 0 so c = -0.5
    can never reach ln(0), which DuckDB raises on while Spark returns
    NULL (ADVICE r9; u in [1e-6, 0.999999], both engines finite)."""
    docs = T(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    c = (
        F.expr(
            "CAST(CONV(SUBSTRING(MD5(CAST(source AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
        )
        % 999999
        + 1
    ) / 1000000.0 - 0.5
    noise = F.when(c == 0, F.lit(0.0)).otherwise(
        -(1.0 / _DP_EPS) * F.signum(c) * F.log(1 - 2 * F.abs(c))
    )
    return (
        per.select(
            "source",
            (F.col("n") + F.round(noise + 1e-9).cast("long"))
            .cast("long")
            .alias("n_released"),
            F.round(noise + 1e-9, 4).alias("noise"),
        )
        .orderBy("source")
    )


#: (name, DuckDB fail-predicate) per cascade rule, in drop order —
#: Gopher/C4-style document quality gates. The Spark twins are built in
#: the entry; keep the two lists in the same order or first-fail
#: attribution diverges.
_CASCADE_RULES = (
    ("min_len", "n_chars < 120"),
    ("max_len", "n_chars > 450"),
    ("word_len", "n_nonspace * 1.0 / n_tok < 4.0"),
    ("stopword", "NOT has_stop"),
    ("uniq_ratio", "n_utok * 1.0 / n_tok < 0.4"),
    ("min_tokens", "n_tok < 20"),
)


@register(
    "pipeline_filter_cascade",
    tags=("pipeline", "llm", "quality", "curation", "filter"),
    oracle=r"""
WITH d AS MATERIALIZED (
  SELECT n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tok,
         len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_utok,
         length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
         (lower(text) LIKE '% the %' OR lower(text) LIKE '% and %') AS has_stop
  FROM documents),
 f AS MATERIALIZED (
  SELECT """
    + ",\n         ".join(
        f"CASE WHEN {pred} THEN 1 ELSE 0 END AS f{i}"
        for i, (_, pred) in enumerate(_CASCADE_RULES)
    )
    + r"""
  FROM d),
 ff AS MATERIALIZED (
  SELECT *, CASE """
    + " ".join(
        f"WHEN f{i} = 1 THEN {i}" for i in range(len(_CASCADE_RULES))
    )
    + r""" ELSE 99 END AS first_fail
  FROM f),
 agg AS MATERIALIZED (
  SELECT """
    + ",\n         ".join(
        f"CAST(sum(f{i}) AS BIGINT) AS failed{i}, "
        f"CAST(sum(CASE WHEN first_fail = {i} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS first{i}, "
        f"CAST(sum(CASE WHEN first_fail > {i} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS rem{i}"
        for i in range(len(_CASCADE_RULES))
    )
    + r"""
  FROM ff)
"""
    + "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS rule_idx, '{name}' AS rule, "
        f"failed{i} AS n_failed, first{i} AS n_dropped_here, "
        f"rem{i} AS n_remaining FROM agg"
        for i, (name, _) in enumerate(_CASCADE_RULES)
    )
    + "\nORDER BY rule_idx",
)
def pipeline_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter cascade with per-rule DROP ATTRIBUTION — the
    C4/Gopher-style document gate battery (length bounds, mean word
    length, stopword presence, unique-token ratio, minimum tokens),
    reported the way a curation run is actually debugged: per rule, how
    many docs fail it AT ALL, how many are dropped BY it (first failing
    rule wins — the cost you'd save by removing the rule), and how many
    docs remain after the cascade prefix. All six rules discriminate at
    every fixture SF (probed; ~38% of docs survive).

    Scale shape: one scan computes every per-doc feature and all six
    flags in scan-stage codegen, ONE keyless aggregate produces all 18
    conditional counts as map-side partials (never six passes — the
    one-scan `stack` discipline from CLAUDE.md), and the 6-row unpivot
    happens on the single aggregated row. The only wide exchange is
    the 18-counter partial merge."""
    docs = T(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    d = docs.select(
        "n_chars",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_utok"),
        F.length(F.regexp_replace("text", r"\s", "")).alias("n_nonspace"),
        (
            F.lower(F.col("text")).contains(" the ")
            | F.lower(F.col("text")).contains(" and ")
        ).alias("has_stop"),
    )
    spark_preds = (
        F.col("n_chars") < 120,
        F.col("n_chars") > 450,
        F.col("n_nonspace") * 1.0 / F.col("n_tok") < 4.0,
        ~F.col("has_stop"),
        F.col("n_utok") * 1.0 / F.col("n_tok") < 0.4,
        F.col("n_tok") < 20,
    )
    flagged = d.select(
        *[
            F.when(p, 1).otherwise(0).alias(f"f{i}")
            for i, p in enumerate(spark_preds)
        ]
    )
    ff = F.lit(99)
    for i in reversed(range(len(spark_preds))):
        ff = F.when(F.col(f"f{i}") == 1, i).otherwise(ff)
    flagged = flagged.withColumn("first_fail", ff)
    aggs = []
    for i in range(len(_CASCADE_RULES)):
        aggs += [
            F.sum(f"f{i}").cast("long").alias(f"failed{i}"),
            F.sum(F.when(F.col("first_fail") == i, 1).otherwise(0))
            .cast("long")
            .alias(f"first{i}"),
            F.sum(F.when(F.col("first_fail") > i, 1).otherwise(0))
            .cast("long")
            .alias(f"rem{i}"),
        ]
    one = flagged.agg(*aggs)
    stack_args = ", ".join(
        f"{i}, '{name}', failed{i}, first{i}, rem{i}"
        for i, (name, _) in enumerate(_CASCADE_RULES)
    )
    return (
        one.selectExpr(
            f"stack({len(_CASCADE_RULES)}, {stack_args}) AS "
            "(rule_idx, rule, n_failed, n_dropped_here, n_remaining)"
        )
        .select(
            F.col("rule_idx").cast("int").alias("rule_idx"),
            "rule",
            "n_failed",
            "n_dropped_here",
            "n_remaining",
        )
        .orderBy("rule_idx")
    )


_HRW_SHARDS = 256
_HRW_WORKERS = 8
_HRW_DOWN = 3  # the worker the resize scenario removes


@register(
    "pipeline_rendezvous_sharding",
    tags=("pipeline", "sharding", "dataloader", "curation"),
    oracle=f"""
WITH shards AS MATERIALIZED (
  SELECT DISTINCT doc_id % {_HRW_SHARDS} AS s FROM documents),
 docs_per AS MATERIALIZED (
  SELECT doc_id % {_HRW_SHARDS} AS s, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1),
 workers AS (SELECT unnest(generate_series(0, {_HRW_WORKERS - 1})) AS w),
 scored AS MATERIALIZED (
  SELECT s, w,
         ('0x' || substring(md5(CAST(s AS VARCHAR) || ':' ||
                                CAST(w AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM shards CROSS JOIN workers),
 a8 AS MATERIALIZED (
  SELECT s, w AS w8 FROM (
    SELECT s, w, row_number() OVER (PARTITION BY s ORDER BY h DESC, w) AS rn
    FROM scored) t WHERE rn = 1),
 a7 AS MATERIALIZED (
  SELECT s, w AS w7 FROM (
    SELECT s, w, row_number() OVER (PARTITION BY s ORDER BY h DESC, w) AS rn
    FROM scored WHERE w <> {_HRW_DOWN}) t WHERE rn = 1),
 j AS (
  SELECT a8.s, a8.w8, a7.w7, d.n_docs
  FROM a8 JOIN a7 ON a7.s = a8.s JOIN docs_per d ON d.s = a8.s)
SELECT CAST(w AS INTEGER) AS worker,
       CAST(sum(CASE WHEN w8 = w THEN 1 ELSE 0 END) AS BIGINT) AS n_shards8,
       CAST(sum(CASE WHEN w8 = w THEN n_docs ELSE 0 END) AS BIGINT) AS n_docs8,
       CAST(sum(CASE WHEN w7 = w THEN 1 ELSE 0 END) AS BIGINT) AS n_shards7,
       CAST(sum(CASE WHEN w7 = w AND w8 <> w THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gained
FROM j CROSS JOIN workers
GROUP BY w ORDER BY worker
""",
)
def pipeline_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard-to-worker assignment —
    the dataloader infrastructure op: every worker independently
    computes ``argmax_w md5(shard:w)`` with no coordinator, and when a
    worker disappears ONLY its own shards move (minimal disruption —
    consistent-hashing's property without the ring). The entry scores
    both the 8-worker and the 7-worker (worker 3 down) assignments and
    emits per worker: shards and docs owned at W=8, shards at W=7, and
    shards GAINED by the resize — nonzero only as receivers of worker
    3's shards, which the value compare proves (for every other worker
    w8 = w7 on all its shards, so n_gained counts exactly the
    redistributed set).

    Scale shape: scoring is shards x workers (bounded config-sized
    cross join, here 256 x 8 = 2048 rows); the corpus contributes one
    map-side-combined count per shard — fact rows never touch the
    scoring join, which is how the same plan assigns a 100 TB corpus'
    shards in milliseconds. Deterministic md5 weights (the portable
    convention every sampler here uses), ties broken by worker id."""
    from pyspark.sql import Window as W_

    docs = T(spark, sf_dir, "documents")
    docs_per = (
        docs.groupBy((F.col("doc_id") % _HRW_SHARDS).alias("s"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    shards = docs_per.select("s")
    workers = spark.range(_HRW_WORKERS).select(F.col("id").cast("long").alias("w"))
    scored = shards.crossJoin(workers).withColumn(
        "h",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("s").cast("string"),
                        F.col("w").cast("string"),
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )

    def assign(sc: DataFrame, out: str) -> DataFrame:
        win = W_.partitionBy("s").orderBy(F.desc("h"), "w")
        return (
            sc.withColumn("rn", F.row_number().over(win))
            .where(F.col("rn") == 1)
            .select("s", F.col("w").alias(out))
        )

    a8 = assign(scored, "w8")
    a7 = assign(scored.where(F.col("w") != _HRW_DOWN), "w7")
    j = a8.join(a7, "s").join(docs_per, "s")
    return (
        j.crossJoin(workers)
        .groupBy("w")
        .agg(
            F.sum(F.when(F.col("w8") == F.col("w"), 1).otherwise(0))
            .cast("long")
            .alias("n_shards8"),
            F.sum(
                F.when(F.col("w8") == F.col("w"), F.col("n_docs")).otherwise(0)
            )
            .cast("long")
            .alias("n_docs8"),
            F.sum(F.when(F.col("w7") == F.col("w"), 1).otherwise(0))
            .cast("long")
            .alias("n_shards7"),
            F.sum(
                F.when(
                    (F.col("w7") == F.col("w")) & (F.col("w8") != F.col("w")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_gained"),
        )
        .select(F.col("w").cast("int").alias("worker"), "n_shards8",
                "n_docs8", "n_shards7", "n_gained")
        .orderBy("worker")
    )


_PACK_B = 512  # context-window capacity (tokens per training example)
_PACK_SHARDS = 8


@register(
    "pipeline_sequence_packing",
    tags=("pipeline", "llm", "packing", "tokenizer", "curation"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents),
 cum AS (
  SELECT *, CAST(sum(n_tok) OVER (
              PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
  FROM toks),
 spans AS (
  SELECT shard, cum, cum - n_tok AS excl,
         (cum - n_tok) // {_PACK_B} AS first_bin,
         (cum - 1) // {_PACK_B}     AS last_bin
  FROM cum),
 ex AS (
  SELECT shard, cum, excl,
         unnest(generate_series(first_bin, last_bin)) AS bin
  FROM spans),
 per AS (
  SELECT shard, CAST(bin AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(least(cum, (bin + 1) * {_PACK_B})
                  - greatest(excl, bin * {_PACK_B})) AS BIGINT)
           AS tokens_in_bin,
         CAST(sum(CASE WHEN excl < bin * {_PACK_B} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_continuing
  FROM ex GROUP BY shard, bin)
SELECT shard, bin, n_docs, tokens_in_bin, n_continuing,
       round(tokens_in_bin * 1.0 / {_PACK_B} + 1e-9, 4) AS fill_ratio
FROM per ORDER BY shard, bin
""",
)
def pipeline_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing manifest: concatenate each shard's
    documents in id order and cut every 512 tokens — the standard
    pretraining step that turns ragged documents into fixed-length
    training examples (documents straddle example boundaries; nothing
    is padded or dropped). Emits one row per training example:
    contributing docs, exact token fill, and how many docs CONTINUE
    from the previous example (the cross-boundary fragments an
    attention-mask builder needs to know about).

    Scale shape: packing domain = hash shard (real pipelines pack per
    worker), so the cumulative sum is a PARTITIONED window — never an
    unpartitioned global sort — and everything downstream is pure
    column arithmetic: first/last bin by integer division, one
    explode(sequence) per doc sized by bins TOUCHED (≈ n_tok/512 + 1,
    not corpus size), one aggregation. No Python anywhere; whitespace
    token counts stand in for tokenizer counts (`text_bpe_encode` is
    the real tokenize path — composing them is a select swap).
    Dtype discipline: the DuckDB window SUM widens BIGINT->HUGEINT, so
    the oracle pins CAST(... AS BIGINT) at the window; `//` stays
    floor-div because both operands are BIGINT (CLAUDE.md float-`//`
    trap does not apply)."""
    docs = T(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias(
            "n_tok"
        ),
    )
    win = W.partitionBy("shard").orderBy("doc_id")
    spans = (
        toks.withColumn("cum", F.sum("n_tok").over(win))
        .withColumn("excl", F.col("cum") - F.col("n_tok"))
        .select(
            "shard",
            "cum",
            "excl",
            F.expr(f"excl div {_PACK_B}").alias("first_bin"),
            F.expr(f"(cum - 1) div {_PACK_B}").alias("last_bin"),
        )
    )
    ex = spans.select(
        "shard",
        "cum",
        "excl",
        F.explode(
            F.sequence(F.col("first_bin"), F.col("last_bin"))
        ).alias("bin"),
    )
    per = ex.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.least(F.col("cum"), (F.col("bin") + 1) * _PACK_B)
            - F.greatest(F.col("excl"), F.col("bin") * _PACK_B)
        )
        .cast("long")
        .alias("tokens_in_bin"),
        F.sum(
            F.when(F.col("excl") < F.col("bin") * _PACK_B, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_continuing"),
    )
    return per.select(
        "shard",
        "bin",
        "n_docs",
        "tokens_in_bin",
        "n_continuing",
        F.round(F.col("tokens_in_bin") / _PACK_B + 1e-9, 4).alias(
            "fill_ratio"
        ),
    ).orderBy("shard", "bin")


# ------------------------------------------------------------------ e2e
_E2E_BENCH_CUT = 50  # doc_id < 50 = held-out benchmark set
_E2E_MIX_N = 100.0  # temperature-mix target sample size
_E2E_ALPHA = 0.5  # temperature: w_s ∝ n_s^alpha

#: Corpus-e2e quality predicates — the pipeline_filter_cascade rules as
#: a single keep/drop gate (DuckDB fail-form; Spark twins built below).
_E2E_FAIL_SQL = (
    "n_chars < 120 OR n_chars > 450"
    r" OR length(regexp_replace(text, '\s', '', 'g')) * 1.0 / len(tk) < 4.0"
    " OR NOT (lower(text) LIKE '% the %' OR lower(text) LIKE '% and %')"
    " OR len(list_distinct(tk)) * 1.0 / len(tk) < 0.4"
    " OR len(tk) < 20"
)

_E2E_ORACLE = rf"""
WITH bench AS MATERIALIZED (
  SELECT string_split_regex(trim(text), '\s+') AS tk FROM documents
  WHERE doc_id < {_E2E_BENCH_CUT}),
 corpus AS MATERIALIZED (
  SELECT doc_id, source, n_chars, text,
         string_split_regex(trim(text), '\s+') AS tk
  FROM documents WHERE doc_id >= {_E2E_BENCH_CUT}),
 feat AS MATERIALIZED (
  SELECT doc_id, source, tk,
         CAST(len(tk) AS BIGINT) AS n_tok,
         NOT ({_E2E_FAIL_SQL}) AS ok,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 3, 15))::BIGINT
              AS BIGINT) AS h60,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              AS BIGINT) AS u32
  FROM corpus),
 q AS MATERIALIZED (SELECT * FROM feat WHERE ok),
 d2 AS MATERIALIZED (
  SELECT q.* FROM q JOIN (SELECT fp, min(doc_id) AS keep FROM q GROUP BY fp) w
  ON q.doc_id = w.keep),
 idx3 AS (SELECT doc_id, tk,
          unnest(generate_series(1, greatest(1, len(tk)-2))) AS i FROM d2),
 sh3 AS MATERIALIZED (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s FROM idx3),
 sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
 pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           FROM sh3 a JOIN sh3 b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
 losers AS MATERIALIZED (
  SELECT DISTINCT id_b FROM pairs
  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5),
 d3 AS MATERIALIZED (
  SELECT * FROM d2 WHERE doc_id NOT IN (SELECT id_b FROM losers)),
 idx5 AS (SELECT doc_id, tk,
          unnest(generate_series(1, greatest(1, len(tk)-4))) AS i FROM d3),
 c5 AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS s FROM idx5),
 bidx AS (SELECT tk, unnest(generate_series(1, greatest(1, len(tk)-4))) AS i
          FROM bench),
 b5 AS MATERIALIZED (
  SELECT DISTINCT array_to_string(tk[i:i+4], ' ') AS s FROM bidx),
 contaminated AS MATERIALIZED (
  SELECT DISTINCT doc_id FROM c5 WHERE s IN (SELECT s FROM b5)),
 d4 AS MATERIALIZED (
  SELECT * FROM d3 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
 mixn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_total FROM d4 GROUP BY 1),
 mixw AS MATERIALIZED (
  SELECT source, n_total, pow(n_total, {_E2E_ALPHA}) AS wt FROM mixn),
 thr AS MATERIALIZED (
  SELECT source,
         CAST(floor(least(1.0, {_E2E_MIX_N} * wt / (SELECT sum(wt) FROM mixw)
                               / n_total)
                    * 4294967296.0 * (1.0 + 1e-12) + 1e-6) AS BIGINT) AS thr
  FROM mixw),
 d5 AS MATERIALIZED (SELECT d4.* FROM d4 JOIN thr USING (source)
                     WHERE u32 < thr),
 cum AS (SELECT doc_id % {_PACK_SHARDS} AS shard, n_tok,
         CAST(sum(n_tok) OVER (
           PARTITION BY doc_id % {_PACK_SHARDS} ORDER BY doc_id) AS BIGINT) AS cum
         FROM d5),
 spans AS (SELECT shard, cum, cum - n_tok AS excl,
           (cum - n_tok) // {_PACK_B} AS first_bin,
           (cum - 1) // {_PACK_B} AS last_bin FROM cum),
 ex AS (SELECT shard, cum, excl,
        unnest(generate_series(first_bin, last_bin)) AS bin FROM spans),
 bins AS MATERIALIZED (
  SELECT shard, CAST(bin AS BIGINT) AS bin,
         CAST(sum(least(cum, (bin+1)*{_PACK_B})
                  - greatest(excl, bin*{_PACK_B})) AS BIGINT) AS tokens_in_bin
  FROM ex GROUP BY shard, bin)
SELECT CAST(0 AS INTEGER) AS stage_idx, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(coalesce(bit_xor(h60), 0) AS BIGINT) AS key_xor FROM feat
UNION ALL SELECT 1, 'quality', count(*), CAST(sum(n_tok) AS BIGINT),
       CAST(coalesce(bit_xor(h60), 0) AS BIGINT) FROM q
UNION ALL SELECT 2, 'exact_dedup', count(*), CAST(sum(n_tok) AS BIGINT),
       CAST(coalesce(bit_xor(h60), 0) AS BIGINT) FROM d2
UNION ALL SELECT 3, 'near_dedup', count(*), CAST(sum(n_tok) AS BIGINT),
       CAST(coalesce(bit_xor(h60), 0) AS BIGINT) FROM d3
UNION ALL SELECT 4, 'decontam', count(*), CAST(sum(n_tok) AS BIGINT),
       CAST(coalesce(bit_xor(h60), 0) AS BIGINT) FROM d4
UNION ALL SELECT 5, 'temperature_mix', count(*), CAST(sum(n_tok) AS BIGINT),
       CAST(coalesce(bit_xor(h60), 0) AS BIGINT) FROM d5
UNION ALL SELECT 6, 'packed', count(*), CAST(sum(tokens_in_bin) AS BIGINT),
       CAST(coalesce(bit_xor(
         CAST(('0x' || substring(md5(CAST(shard AS VARCHAR) || ':'
               || CAST(bin AS VARCHAR) || ':'
               || CAST(tokens_in_bin AS VARCHAR)), 3, 15))::BIGINT
              AS BIGINT)), 0) AS BIGINT)
       FROM bins
ORDER BY stage_idx
"""


def _corpus_e2e_build(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """(lazy card, persisted stage-1 feature frame) — the frame handle
    lets the caller unpersist exactly what this build cached.

    ``checkpoint_dir`` (VERDICT r12 #3) selects how the two bounded
    loser/contaminated id sets are materialized: ``None`` =
    ``localCheckpoint`` (fast; single-box / interactive — executor loss
    mid-build loses blocks with severed lineage), a filesystem path =
    RELIABLE ``Dataset.checkpoint`` via
    :func:`pyblazing_spark.session.make_ckpt` (persist-first, so the
    second FS-write job reads cache instead of re-executing) — the
    production mode for 1000-executor churn, same flag the iterative
    graph loops take. Proven by ``scripts/cluster_probe.py
    --kill-deep`` killing an executor mid-composition."""
    from pyblazing_spark.operators.dedup import (
        _hashed_shingle_rows,
        _hashed_windows_from_tokens,
        minhash_pairs_from_hashed,
    )
    from pyblazing_spark.plans.sampling import hash_u32
    from pyblazing_spark.session import make_ckpt

    ckpt = make_ckpt(spark, checkpoint_dir)

    docs = T(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < _E2E_BENCH_CUT)
    corpus = docs.where(F.col("doc_id") >= _E2E_BENCH_CUT)

    # ---- stage 1: the ONLY pass over corpus text. Every text-derived
    # artifact any later stage needs — token array, token count, quality
    # gate, content fingerprint, the two portable id hashes — is
    # computed here and persisted; downstream stages read the cache.
    toks = F.split(F.trim(F.col("text")), r"\s+")
    md5_id = F.md5(F.col("doc_id").cast("string").cast("binary"))
    base = corpus.select(
        "doc_id",
        "source",
        "n_chars",
        "text",
        toks.alias("__toks"),
    )
    fails = (
        (F.col("n_chars") < 120)
        | (F.col("n_chars") > 450)
        | (
            F.length(F.regexp_replace("text", r"\s", "")) * 1.0 / F.size("__toks")
            < 4.0
        )
        | ~(
            F.lower(F.col("text")).contains(" the ")
            | F.lower(F.col("text")).contains(" and ")
        )
        | (F.size(F.array_distinct("__toks")) * 1.0 / F.size("__toks") < 0.4)
        | (F.size("__toks") < 20)
    )
    feat = base.select(
        "doc_id",
        "source",
        "__toks",
        F.size("__toks").cast("long").alias("n_tok"),
        (~fails).alias("ok"),
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                    " +",
                    " ",
                )
            )
        ).alias("fp"),
        F.conv(F.substring(md5_id, 3, 15), 16, 10).cast("long").alias("h60"),
        hash_u32("doc_id").alias("u32"),
    ).persist()
    feat.count()  # materialize the stage-1 cache

    # ---- stage 2: exact dedup winners (min doc_id per fingerprint).
    q = feat.where("ok")
    winners = q.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    d2 = q.join(winners, "doc_id", "left_semi")

    # ---- stage 3: MinHash-LSH near-dup losers (greedy drop-id_b), from
    # the CACHED token arrays. Materialized: the pair computation runs
    # once here and the card plan references only the bounded id set.
    pairs = minhash_pairs_from_hashed(
        _hashed_windows_from_tokens(d2, "doc_id", "__toks", 3),
        "doc_id",
        threshold=0.5,
        # the shared signature frame truncates through THIS pipeline's
        # checkpoint mode, so reliable mode stays kill-recoverable
        materialize=lambda d: ckpt(d, eager=True),
    )
    losers = ckpt(
        pairs.select(F.col("id_b").alias("doc_id")).distinct(), eager=True
    )
    d3 = d2.join(losers, "doc_id", "left_anti")

    # ---- stage 4: decontamination vs the held-out set (the one
    # permitted extra text scan — the BENCH side, which is not corpus).
    c5 = _hashed_windows_from_tokens(d3, "doc_id", "__toks", 5).distinct()
    b5 = _hashed_shingle_rows(bench, "text", "doc_id", 5).select("__h").distinct()
    contaminated = ckpt(
        c5.join(F.broadcast(b5), "__h", "left_semi").select("doc_id").distinct(),
        eager=True,
    )
    d4 = d3.join(contaminated, "doc_id", "left_anti")

    # ---- stage 5: temperature mixing (T5 n^alpha) on the survivors'
    # per-source manifest; membership is a pure (doc_id, manifest)
    # predicate via the broadcast integerized thresholds.
    manifest = d4.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    w = manifest.withColumn("wt", F.pow("n_total", F.lit(_E2E_ALPHA)))
    tw = w.agg(F.sum("wt").alias("tw"))
    thr = (
        w.crossJoin(F.broadcast(tw))
        .select(
            "source",
            F.floor(
                F.least(
                    F.lit(1.0),
                    F.lit(_E2E_MIX_N) * F.col("wt") / F.col("tw") / F.col("n_total"),
                )
                * F.lit(4294967296.0)
                * F.lit(1.0 + 1e-12)
                + F.lit(1e-6)
            )
            .cast("long")
            .alias("thr"),
        )
    )

    # ---- lineage card: ONE pass over the cached per-doc frame computes
    # every doc-stage row via conditional aggregation + stack (the
    # one-scan discipline — never six aggregate branches re-reading the
    # chain), using cumulative survival flags.
    tagged = (
        feat.join(winners.withColumn("__ke", F.lit(1)), "doc_id", "left")
        .join(losers.withColumn("__ln", F.lit(1)), "doc_id", "left")
        .join(contaminated.withColumn("__lc", F.lit(1)), "doc_id", "left")
        .join(F.broadcast(thr), "source", "left")
        .withColumn("s1", F.col("ok"))
        .withColumn("s2", F.col("s1") & (F.col("__ke") == 1))
        .withColumn("s3", F.col("s2") & F.col("__ln").isNull())
        .withColumn("s4", F.col("s3") & F.col("__lc").isNull())
        .withColumn("s5", F.col("s4") & (F.col("u32") < F.col("thr")))
    )
    stage_conds = [
        (0, "raw", F.lit(True)),
        (1, "quality", F.col("s1")),
        (2, "exact_dedup", F.col("s2")),
        (3, "near_dedup", F.col("s3")),
        (4, "decontam", F.col("s4")),
        (5, "temperature_mix", F.col("s5")),
    ]
    aggs = []
    for i, _, cond in stage_conds:
        aggs += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n{i}"),
            F.sum(F.when(cond, F.col("n_tok"))).cast("long").alias(f"t{i}"),
            F.coalesce(F.bit_xor(F.when(cond, F.col("h60"))), F.lit(0))
            .cast("long")
            .alias(f"x{i}"),
        ]
    one = tagged.agg(*aggs)
    stack_args = ", ".join(
        f"{i}, '{name}', n{i}, t{i}, x{i}" for i, name, _ in stage_conds
    )
    doc_rows = one.selectExpr(
        f"stack({len(stage_conds)}, {stack_args}) AS "
        "(stage_idx, stage, n_rows, n_tokens, key_xor)"
    )

    # ---- stage 6: sequence-pack the sample (partitioned window cumsum,
    # bins of _PACK_B tokens — the pipeline_sequence_packing shape).
    sampled = tagged.where("s5").select(
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"), "doc_id", "n_tok"
    )
    win = W.partitionBy("shard").orderBy("doc_id")
    spans = (
        sampled.withColumn("cum", F.sum("n_tok").over(win))
        .withColumn("excl", F.col("cum") - F.col("n_tok"))
        .select(
            "shard",
            "cum",
            "excl",
            F.expr(f"excl div {_PACK_B}").alias("first_bin"),
            F.expr(f"(cum - 1) div {_PACK_B}").alias("last_bin"),
        )
    )
    bins = (
        spans.select(
            "shard",
            "cum",
            "excl",
            F.explode(F.sequence(F.col("first_bin"), F.col("last_bin"))).alias(
                "bin"
            ),
        )
        .groupBy("shard", "bin")
        .agg(
            F.sum(
                F.least(F.col("cum"), (F.col("bin") + 1) * _PACK_B)
                - F.greatest(F.col("excl"), F.col("bin") * _PACK_B)
            )
            .cast("long")
            .alias("tokens_in_bin")
        )
    )
    bin_h60 = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("shard").cast("string"),
                    F.col("bin").cast("string"),
                    F.col("tokens_in_bin").cast("string"),
                ).cast("binary")
            ),
            3,
            15,
        ),
        16,
        10,
    ).cast("long")
    packed_row = bins.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("tokens_in_bin").cast("long").alias("n_tokens"),
        F.coalesce(F.bit_xor(bin_h60), F.lit(0)).cast("long").alias("key_xor"),
    ).select(
        F.lit(6).alias("stage_idx"),
        F.lit("packed").alias("stage"),
        "n_rows",
        "n_tokens",
        "key_xor",
    )

    card = (
        doc_rows.unionByName(packed_row)
        .select(
            F.col("stage_idx").cast("int").alias("stage_idx"),
            "stage",
            "n_rows",
            "n_tokens",
            "key_xor",
        )
        .orderBy("stage_idx")
    )
    return card, feat


@register(
    "pipeline_corpus_e2e",
    tags=("pipeline", "llm", "e2e", "dedup", "decontam", "mixing", "packing"),
    oracle=_E2E_ORACLE,
)
def pipeline_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus build — the full training-data pipeline
    composed as ONE artifact: quality-filter cascade → exact dedup →
    MinHash-LSH near-dedup (greedy drop) → benchmark decontamination →
    temperature mixing (T5 n^alpha) → sequence packing. Output is the
    data lineage card a 100 TB run ships with the corpus: one row per
    stage with surviving row count, surviving token mass, and a
    commutative md5-xor membership checksum (the packed row checksums
    per-bin fill), so the oracle validates the exact SET of documents
    crossing every stage interface — stage interfaces, not stages, are
    where real pipelines break.

    Scale shape: raw text is scanned ONCE (stage 1) into a persisted
    per-doc feature frame (token array, quality gate, fingerprint,
    portable hashes); every later stage reads that cache — the plan
    audit asserts the final card plan contains ZERO file scans of the
    corpus. The near-dup pair computation and the contamination probe
    are materialized as bounded id sets (localCheckpoint by default;
    ``_corpus_e2e_build(checkpoint_dir=...)`` flips them to RELIABLE
    filesystem checkpoints for 1000-executor churn — same flag as the
    iterative graph loops, kill-probed under local-cluster), the mixing
    thresholds ride a broadcast, and all six doc-stage rows come from
    ONE conditional aggregation + stack over the cached frame — never
    six aggregate branches re-executing the chain (CLAUDE.md one-scan
    discipline).
    Packing's cumsum is a per-shard partitioned window, never a global
    sort. Stage semantics match the standalone entries
    (pipeline_filter_cascade, dedup_exact, dedup_minhash_lsh,
    decontam_overlap, sample_temperature_mix,
    pipeline_sequence_packing); the oracle recomputes all six stages
    exactly, with exact word-shingle Jaccard standing in for
    MinHash-LSH (deterministically equal on this corpus' similarity
    gap — same argument as dedup_minhash_lsh)."""
    card, feat = _corpus_e2e_build(spark, sf_dir)
    try:
        # lifetime: the card is computed before its feature cache is freed
        return card.localCheckpoint()
    finally:
        feat.unpersist()


# -------------------------------------------------- incremental ingest
_INC_CUT = 200  # doc_id < CUT = the already-ingested snapshot
_INC_MOD = 23  # every MOD-th batch doc was already crawled (re-crawl)
_INC_ROFF = 10_000_000  # re-crawl snapshot ids map BELOW everything

_INC_ORACLE = rf"""
WITH snap AS MATERIALIZED (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id < {_INC_CUT}
  UNION ALL
  SELECT doc_id - {_INC_ROFF}, string_split_regex(trim(text), '\s+'),
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
  FROM documents WHERE doc_id >= {_INC_CUT} AND doc_id % {_INC_MOD} = 0),
 batch AS MATERIALIZED (
  SELECT d.doc_id, d.n_chars, d.text,
         string_split_regex(trim(d.text), '\s+') AS tk
  FROM documents d WHERE d.doc_id >= {_INC_CUT}),
 feat AS MATERIALIZED (
  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tok,
         NOT ({_E2E_FAIL_SQL}) AS ok,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 3, 15))::BIGINT
              AS BIGINT) AS h60
  FROM batch),
 q AS MATERIALIZED (SELECT * FROM feat WHERE ok),
 exsnap AS MATERIALIZED (
  SELECT DISTINCT q.doc_id FROM q JOIN snap s ON s.fp = q.fp),
 exbatch AS MATERIALIZED (
  SELECT q.doc_id FROM q
  WHERE q.doc_id NOT IN (SELECT doc_id FROM exsnap)
    AND q.doc_id > (SELECT min(q2.doc_id) FROM q q2
                    WHERE q2.fp = q.fp
                      AND q2.doc_id NOT IN (SELECT doc_id FROM exsnap))),
 d2 AS MATERIALIZED (
  SELECT * FROM q WHERE doc_id NOT IN (SELECT doc_id FROM exsnap)
                    AND doc_id NOT IN (SELECT doc_id FROM exbatch)),
 uni AS MATERIALIZED (
  SELECT doc_id, tk FROM snap UNION ALL SELECT doc_id, tk FROM d2),
 idx3 AS (SELECT doc_id, tk,
          unnest(generate_series(1, greatest(1, len(tk)-2))) AS i FROM uni),
 sh3 AS MATERIALIZED (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s FROM idx3),
 sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
 pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh3 a JOIN sh3 b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE b.doc_id >= {_INC_CUT}
  GROUP BY 1, 2),
 jac AS MATERIALIZED (
  SELECT id_a, id_b FROM pairs
  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5),
 nearsnap AS MATERIALIZED (
  SELECT DISTINCT id_b FROM jac WHERE id_a < {_INC_CUT}),
 nearbatch AS MATERIALIZED (
  SELECT DISTINCT id_b FROM jac
  WHERE id_b NOT IN (SELECT id_b FROM nearsnap)),
 d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT id_b FROM nearsnap)
                           AND doc_id NOT IN (SELECT id_b FROM nearbatch))
SELECT CAST(0 AS INTEGER) AS stage_idx, 'quality' AS stage,
       CAST((SELECT count(*) FROM feat) AS BIGINT) AS n_in,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(0 AS BIGINT) AS drop_vs_snapshot,
       CAST((SELECT count(*) FROM feat) - count(*) AS BIGINT)
         AS drop_within_batch,
       CAST(coalesce(bit_xor(h60), 0) AS BIGINT) AS kept_xor
FROM q
UNION ALL SELECT 1, 'exact_dedup',
       (SELECT count(*) FROM q), count(*),
       (SELECT count(*) FROM exsnap), (SELECT count(*) FROM exbatch),
       CAST(coalesce(bit_xor(h60), 0) AS BIGINT)
FROM d2
UNION ALL SELECT 2, 'near_dedup',
       (SELECT count(*) FROM d2), count(*),
       (SELECT count(*) FROM nearsnap), (SELECT count(*) FROM nearbatch),
       CAST(coalesce(bit_xor(h60), 0) AS BIGINT)
FROM d3
ORDER BY stage_idx
"""


@register(
    "pipeline_corpus_ingest_incremental",
    tags=("pipeline", "llm", "e2e", "incremental", "dedup", "ingest"),
    oracle=_INC_ORACLE,
)
def pipeline_corpus_ingest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus ingest — the daily-crawl append shape that a
    100 TB corpus actually runs every day, where ``pipeline_corpus_e2e``
    is the from-scratch build: a NEW batch (doc_id >= {cut}) is quality-
    gated, exact-deduped, and near-deduped against BOTH itself and the
    already-ingested SNAPSHOT (doc_id < {cut}, plus planted re-crawls of
    every {mod}-th batch doc — the re-crawled-URL case that makes the
    vs-snapshot attribution non-vacuous at every SF). Each stage row
    attributes its drops: vs-snapshot (content the corpus already has)
    versus within-batch (self-duplication in today's crawl) — the split
    an ingest dashboard actually monitors, since the two have different
    remedies (crawler revisit policy vs upstream mirror lists).

    Snapshot contract: the snapshot ships only its content FINGERPRINTS
    and token shingles (a production run reads them from the corpus
    manifest — text never reloads); batch docs dropping vs the snapshot
    is a broadcast-able semi-join on 16-byte keys plus shared LSH
    buckets between batch and snapshot signatures. Greedy keep: a batch
    doc near-matching ANY earlier content (snapshot id or lower batch
    id) drops; snapshot members are never re-dropped (the pair filter
    keeps only pairs whose higher id is a batch doc — re-crawl snapshot
    ids map below zero so they always sit on the earlier side). One
    conditional aggregation + stack emits the whole card; the batch
    feature frame is the only persisted corpus-scale state."""
    from pyblazing_spark.operators.dedup import (
        _hashed_windows_from_tokens,
        minhash_pairs_from_hashed,
    )

    docs = T(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    fingerprint = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    snap = (
        docs.where(F.col("doc_id") < _INC_CUT)
        .select("doc_id", toks.alias("__toks"), fingerprint.alias("fp"))
        .unionByName(
            docs.where(
                (F.col("doc_id") >= _INC_CUT)
                & (F.col("doc_id") % _INC_MOD == 0)
            ).select(
                (F.col("doc_id") - _INC_ROFF).alias("doc_id"),
                toks.alias("__toks"),
                fingerprint.alias("fp"),
            )
        )
        .persist()
    )
    md5_id = F.md5(F.col("doc_id").cast("string").cast("binary"))
    base = docs.where(F.col("doc_id") >= _INC_CUT).select(
        "doc_id", "n_chars", "text", toks.alias("__toks")
    )
    fails = (
        (F.col("n_chars") < 120)
        | (F.col("n_chars") > 450)
        | (
            F.length(F.regexp_replace("text", r"\s", "")) * 1.0 / F.size("__toks")
            < 4.0
        )
        | ~(
            F.lower(F.col("text")).contains(" the ")
            | F.lower(F.col("text")).contains(" and ")
        )
        | (F.size(F.array_distinct("__toks")) * 1.0 / F.size("__toks") < 0.4)
        | (F.size("__toks") < 20)
    )
    feat = base.select(
        "doc_id",
        "__toks",
        F.size("__toks").cast("long").alias("n_tok"),
        (~fails).alias("ok"),
        fingerprint.alias("fp"),
        F.conv(F.substring(md5_id, 3, 15), 16, 10).cast("long").alias("h60"),
    ).persist()
    feat.count()

    try:
        q = feat.where("ok")
        exsnap = (
            q.join(snap.select("fp").distinct(), "fp", "left_semi")
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
        rem = q.join(exsnap, "doc_id", "left_anti")
        winners = (
            rem.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
        )
        exbatch = (
            rem.join(winners, "doc_id", "left_anti")
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
        d2 = rem.join(exbatch, "doc_id", "left_anti")
        uni = snap.select("doc_id", "__toks").unionByName(
            d2.select("doc_id", "__toks")
        )
        pairs = minhash_pairs_from_hashed(
            _hashed_windows_from_tokens(uni, "doc_id", "__toks", 3),
            "doc_id",
            threshold=0.5,
        ).where(F.col("id_b") >= _INC_CUT)
        nearsnap = (
            pairs.where(F.col("id_a") < _INC_CUT)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        nearbatch = (
            pairs.where(F.col("id_a") >= _INC_CUT)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
            .join(nearsnap, "doc_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        tagged = (
            feat.join(exsnap.withColumn("__es", F.lit(1)), "doc_id", "left")
            .join(exbatch.withColumn("__eb", F.lit(1)), "doc_id", "left")
            .join(nearsnap.withColumn("__ns", F.lit(1)), "doc_id", "left")
            .join(nearbatch.withColumn("__nb", F.lit(1)), "doc_id", "left")
            .withColumn("s_q", F.col("ok"))
            .withColumn(
                "s_e",
                F.col("s_q") & F.col("__es").isNull() & F.col("__eb").isNull(),
            )
            .withColumn(
                "s_n",
                F.col("s_e") & F.col("__ns").isNull() & F.col("__nb").isNull(),
            )
        )

        def _n(cond, alias):
            return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(alias)

        def _x(cond, alias):
            return (
                F.coalesce(F.bit_xor(F.when(cond, F.col("h60"))), F.lit(0))
                .cast("long")
                .alias(alias)
            )

        one = tagged.agg(
            F.count(F.lit(1)).cast("long").alias("n_feat"),
            _n(F.col("s_q"), "n_q"),
            _n(F.col("s_e"), "n_d2"),
            _n(F.col("s_n"), "n_d3"),
            _n(F.col("__es") == 1, "es_ct"),
            _n(F.col("__eb") == 1, "eb_ct"),
            _n(F.col("__ns") == 1, "ns_ct"),
            _n(F.col("__nb") == 1, "nb_ct"),
            _x(F.col("s_q"), "x_q"),
            _x(F.col("s_e"), "x_d2"),
            _x(F.col("s_n"), "x_d3"),
        )
        card = one.selectExpr(
            "stack(3, "
            "0, 'quality', n_feat, n_q, CAST(0 AS BIGINT), n_feat - n_q, x_q, "
            "1, 'exact_dedup', n_q, n_d2, es_ct, eb_ct, x_d2, "
            "2, 'near_dedup', n_d2, n_d3, ns_ct, nb_ct, x_d3"
            ") AS (stage_idx, stage, n_in, n_kept, drop_vs_snapshot, "
            "drop_within_batch, kept_xor)"
        ).select(
            F.col("stage_idx").cast("int").alias("stage_idx"),
            "stage",
            "n_in",
            "n_kept",
            "drop_vs_snapshot",
            "drop_within_batch",
            "kept_xor",
        )
        # lifetime: the card is computed before its caches are freed
        return card.orderBy("stage_idx").localCheckpoint()
    finally:
        feat.unpersist()
        snap.unpersist()
