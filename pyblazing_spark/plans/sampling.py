"""Deterministic sampling operators for reproducible dataset curation
(driver extension — the reference has no sampling surface beyond full
scans; a 100 TB training pipeline needs *reproducible* samples, so every
operator here keys the sample on a content hash, never on an RNG).

Scale notes:
- Hash-Bernoulli sampling is a pure narrow filter — it pushes into the
  scan stage, costs one md5 per row, and never shuffles. At 100 TB this
  is the only sampling strategy that works without coordination: any
  executor can decide membership locally, and reruns/late retries pick
  the identical rows.
- The stratified top-N uses one shuffle on the stratum key and a
  rank-truncate — the standard distributed formulation. Strata counts
  are bounded (O(strata x N) output), so the final sort is tiny.
- The split assignment (train/val/test) is again per-row local math;
  downstream writers can partition by the split column so each split
  lands in its own file tree without a second pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pyblazing_spark.plans.registry import register
from pyblazing_spark.plans.tpch import money
from pyblazing_spark.sources.tables import load_table as T


def hash_u32(col):
    """Leading 32 bits of md5(value-as-string) as a BIGINT in
    [0, 2^32) — the engine-portable uniform hash every threshold /
    prefilter in this module compares against (DuckDB twin:
    ``('0x' || substring(md5(CAST(col AS VARCHAR)), 1, 8))::BIGINT``)."""
    return (
        F.conv(
            F.substring(F.md5(F.col(col).cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
    )


def hash_bucket(col, buckets: int = 100):
    """Deterministic bucket id in [0, buckets) from a column's md5.

    Uses the first 8 hex digits (32 bits) of md5 of the value's string
    form — portable across engines (DuckDB computes the identical hex),
    uniform, and independent of partitioning or row order.
    """
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long") % buckets
    )


def _sql_bucket(col: str, buckets: int = 100) -> str:
    return (
        f"CAST(('0x' || substring(md5(CAST({col} AS VARCHAR)), 1, 8))::BIGINT "
        f"AS BIGINT) % {buckets}"
    )


@register(
    "sample_hash_bernoulli",
    tags=("sampling", "filter"),
    oracle=f"""
SELECT o_orderstatus,
       count(*) AS n_sampled,
       round(sum(o_totalprice) + 1e-4, 2) AS sum_price
FROM orders
WHERE {_sql_bucket('o_orderkey')} < 10
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic Bernoulli sample of orders keyed on
    md5(o_orderkey): membership is a pure per-row predicate (no RNG, no
    state), so the sample is identical across engines, reruns, and
    cluster sizes."""
    o = T(spark, sf_dir, "orders")
    return (
        o.where(hash_bucket("o_orderkey") < 10)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            money(F.sum("o_totalprice") + 1e-4).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "sample_stratified_topn",
    tags=("sampling", "window"),
    oracle="""
WITH ranked AS (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_orderkey) AS rn
  FROM orders)
SELECT o_orderstatus,
       count(*) AS n_sampled,
       round(sum(o_totalprice) + 1e-4, 2) AS sum_price,
       max(o_orderkey) AS max_key
FROM ranked WHERE rn <= 200
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def sample_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size-per-stratum sample: 200 orders per status via
    rank-truncate (one shuffle on the stratum key; deterministic because
    the ordering key is unique)."""
    o = T(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_orderkey")
    return (
        o.select("o_orderstatus", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 200)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            money(F.sum("o_totalprice") + 1e-4).alias("sum_price"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "sample_train_test_split",
    tags=("sampling", "llm"),
    oracle=f"""
SELECT source,
       CASE WHEN {_sql_bucket('doc_id')} < 80 THEN 'train'
            WHEN {_sql_bucket('doc_id')} < 90 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source, split
ORDER BY source, split
""",
)
def sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment keyed on md5(doc_id) — the
    reproducible-split idiom for training corpora: assignment is a
    per-row expression, so adding data never reshuffles existing docs
    between splits."""
    d = T(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )
    return (
        d.select("source", split.alias("split"), "n_chars")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source", "split")
    )


@register(
    "sample_leakage_safe_split",
    tags=("sampling", "llm", "split", "dedup", "decontam"),
    oracle=f"""
WITH d AS (
  SELECT doc_id, n_chars, md5(trim(text)) AS fp FROM documents),
 a AS (
  SELECT doc_id, n_chars, fp,
         CASE WHEN ('0x' || substring(md5(fp), 1, 8))::BIGINT % 100 < 90
              THEN 'train' ELSE 'test' END AS split,
         CASE WHEN {_sql_bucket('doc_id')} < 90
              THEN 'train' ELSE 'test' END AS naive
  FROM d)
SELECT split,
       CAST(count(*) AS BIGINT)            AS n_docs,
       CAST(count(DISTINCT fp) AS BIGINT)  AS n_clusters,
       CAST(sum(n_chars) AS BIGINT)        AS total_chars,
       CAST(sum(CASE WHEN split <> naive THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved_vs_naive
FROM a GROUP BY split ORDER BY split
""",
)
def sample_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: the split key is the CONTENT
    fingerprint, not the doc id, so every exact-duplicate cluster lands
    wholly in one split — the eval-integrity property a per-doc hash
    split silently violates (a duplicated document with copies in both
    train and test is memorization leakage the benchmark can't see).
    Emits, per split: docs, distinct clusters, bytes, and how many docs
    MOVED relative to the naive doc-id split — the measured size of the
    leakage channel being closed. Near-dup-safe splitting composes the
    same way with minhash cluster ids (`dedup_minhash_lsh` ->
    components) instead of exact fingerprints; this entry keeps the
    oracle exact. Per-row expression assignment (one md5 of content,
    one of the fingerprint) — no shuffle beyond the summary aggregate,
    and adding data never reassigns existing clusters."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.trim(F.col("text")).cast("binary")).alias("fp"),
    )
    fp_bucket = (
        F.conv(F.substring(F.md5(F.col("fp").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    naive = hash_bucket("doc_id")
    a = d.select(
        "n_chars",
        "fp",
        F.when(fp_bucket < 90, "train").otherwise("test").alias("split"),
        F.when(naive < 90, "train").otherwise("test").alias("naive"),
    )
    return (
        a.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(
                F.when(F.col("split") != F.col("naive"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_moved_vs_naive"),
        )
        .orderBy("split")
    )


@register(
    "sample_epoch_shuffle",
    tags=("sampling", "llm", "shuffle"),
    oracle="""
WITH e AS (
  SELECT doc_id, e.epoch
  FROM documents CROSS JOIN (VALUES (0), (1)) e(epoch)),
 k AS (
  SELECT doc_id, epoch,
         md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS skey
  FROM e),
 s AS (
  SELECT doc_id, epoch,
         CAST(('0x' || substring(skey, 1, 8))::BIGINT % 4 AS INTEGER) AS shard,
         skey
  FROM k)
SELECT doc_id, epoch, shard,
       CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY skey)
            AS INTEGER) AS pos
FROM s
ORDER BY epoch, shard, pos
""",
)
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle: each epoch permutes the
    corpus by ``md5(epoch:doc_id)`` and splits it into 4 shards (the
    data-loader sharding shape). Different epochs yield independent
    permutations from the same pure expression — no RNG, no state, so
    any worker can locate any document's (shard, pos) without
    coordination, and a rerun or a resized cluster reproduces the exact
    order.

    Scale: shard assignment is a narrow per-row map; the per-shard
    ordering is a window PARTITIONED BY (epoch, shard), so each shard
    sorts independently in parallel — no global single-reducer sort. At
    100 TB you'd raise the shard count to O(executors); the plan shape
    is unchanged."""
    d = T(spark, sf_dir, "documents")
    e = d.select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch")
    )
    skey = F.md5(
        F.concat(
            F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string")
        ).cast("binary")
    )
    s = e.select(
        "doc_id",
        "epoch",
        skey.alias("skey"),
        (F.conv(F.substring(skey, 1, 8), 16, 10).cast("long") % 4)
        .cast("int")
        .alias("shard"),
    )
    w = W.partitionBy("epoch", "shard").orderBy("skey")
    return (
        s.select(
            "doc_id",
            "epoch",
            "shard",
            F.row_number().over(w).cast("int").alias("pos"),
        )
        .orderBy("epoch", "shard", "pos")
    )


@register(
    "sample_weighted_reservoir",
    tags=("sampling", "weighted", "deterministic"),
    oracle="""
WITH keyed AS (
  SELECT o_orderkey, o_totalprice,
         -- A-Res key: u^(1/w), ranked in log form ln(u)/w (monotone);
         -- u is md5-derived in (0,1) so reruns/engines/partitionings agree.
         ln((CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 6))::BIGINT
             AS DOUBLE) + 0.5) / 16777216.0) / o_totalprice AS logkey
  FROM orders),
 ranked AS (
  SELECT *, row_number() OVER (ORDER BY logkey DESC, o_orderkey) AS rn
  FROM keyed)
SELECT CAST(rn AS INTEGER)            AS rank,
       o_orderkey,
       round(o_totalprice, 2)          AS weight,
       round(logkey * 1e6 + 1e-9, 4)   AS scaled_logkey
FROM ranked WHERE rn <= 20
ORDER BY rank
""",
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted reservoir sampling (Efraimidis-Spirakis
    A-Res): each order draws a reproducible uniform u from its key's
    md5 and is ranked by u^(1/weight) — here in the monotone log form
    ln(u)/w — so heavier orders win proportionally more often; top-20
    form the sample.

    Scale: the key is scan-stage codegen over (orderkey, totalprice);
    the top-k is a TakeOrdered (per-partition heads merged on the
    driver), never a global sort. Unlike rand()-based sampling the
    sample is IDENTICAL across engines, reruns, and cluster sizes —
    the property every reproducible-training-data pipeline needs.
    ln(u)/w is scaled by 1e6 for display so 4-dp rounding keeps
    signal (raw values sit in (-1e-4, 0))."""
    o = T(spark, sf_dir, "orders")
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 6), 16, 10)
        .cast("double")
        + 0.5
    ) / 16777216.0
    keyed = o.select(
        "o_orderkey",
        "o_totalprice",
        (F.log(u) / F.col("o_totalprice")).alias("logkey"),
    )
    from pyblazing_spark.operators.global_window import ranked_topk

    return (
        ranked_topk(keyed, 20, F.desc("logkey"), F.col("o_orderkey"))
        .select(
            "rank",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("weight"),
            F.round(F.col("logkey") * 1e6 + 1e-9, 4).alias("scaled_logkey"),
        )
        .orderBy("rank")
    )


# Poisson(1) CDF quantized to /256 buckets: P(0)=.3679 -> 94, then 188,
# 235, 251; the >=4 tail takes the last 5 buckets. Shared thresholds keep
# the Spark CASE and the oracle CASE the same distribution by construction.
_POISSON_CUTS = (94, 188, 235, 251)


@register(
    "sample_poisson_bootstrap",
    tags=("sampling", "bootstrap", "deterministic"),
    oracle=f"""
WITH b AS (
  SELECT o_orderstatus, o_totalprice,
         {_sql_bucket('o_orderkey', 256)} AS bkt
  FROM orders),
 k AS (
  SELECT o_orderstatus, o_totalprice,
         CASE WHEN bkt < {_POISSON_CUTS[0]} THEN 0
              WHEN bkt < {_POISSON_CUTS[1]} THEN 1
              WHEN bkt < {_POISSON_CUTS[2]} THEN 2
              WHEN bkt < {_POISSON_CUTS[3]} THEN 3
              ELSE 4 END AS k
  FROM b)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT)        AS n_orig,
       CAST(sum(k) AS BIGINT)          AS n_resampled,
       round(sum(k * o_totalprice) + 1e-4, 2) AS resampled_total
FROM k
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap (the bagging/online-bootstrap
    resampling primitive): each row's replicate count k is drawn from a
    quantized Poisson(1) via its md5 bucket — reproducible across
    engines, reruns, and partitionings, like every sampler here. The
    scalable form keeps k as a REPLICATE WEIGHT (sum(k), sum(k*x))
    instead of exploding rows, so the bootstrap aggregate costs exactly
    one scan-stage projection + the same groupBy the plain aggregate
    pays — no data expansion at 100 TB."""
    od = T(spark, sf_dir, "orders")
    bkt = hash_bucket("o_orderkey", 256)
    k = (
        F.when(bkt < _POISSON_CUTS[0], 0)
        .when(bkt < _POISSON_CUTS[1], 1)
        .when(bkt < _POISSON_CUTS[2], 2)
        .when(bkt < _POISSON_CUTS[3], 3)
        .otherwise(4)
    )
    return (
        od.select("o_orderstatus", "o_totalprice", k.alias("k"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orig"),
            F.sum("k").cast("long").alias("n_resampled"),
            money(F.sum(F.col("k") * F.col("o_totalprice")) + 1e-4).alias("resampled_total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "sample_group_split",
    tags=("sampling", "llm", "leakage"),
    oracle=f"""
WITH s AS (
  SELECT CASE WHEN {_sql_bucket('user_id')} < 80 THEN 'train'
              ELSE 'test' END AS split,
         user_id, value
  FROM events),
 stats AS (
  SELECT split,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(count(*) AS BIGINT)                AS n_events,
         round(sum(value) + 1e-4, 2)             AS total_value
  FROM s GROUP BY split),
 gi AS (
  SELECT (max(k) = 1) AS group_intact
  FROM (SELECT user_id, count(DISTINCT split) AS k
        FROM s GROUP BY user_id))
SELECT split, n_users, n_events, total_value, group_intact
FROM stats CROSS JOIN gi
ORDER BY split
""",
)
def sample_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-integrity train/test split: the split is keyed on
    md5(user_id) — the GROUP — not on the row, so every event of a user
    lands in the same split and user-level signal can never leak from
    train into test (the classic evaluation-leakage bug a row-keyed
    split like ``sample_train_test_split`` would commit on grouped
    data).

    Scale shape: the assignment is a pure per-row expression on the
    group key (scan-stage codegen, no user table join, no shuffle to
    assign); the only shuffles are the two small verification
    aggregates. Adding data never moves an existing user between
    splits, and the same expression evaluated engine-side anywhere (a
    1000-executor cluster, DuckDB, a feature store) reproduces the
    identical split — which is exactly what the oracle certifies. The
    ``group_intact`` bit re-derives per-user split cardinality on BOTH
    engines (max distinct-splits-per-user == 1)."""
    e = T(spark, sf_dir, "events").select("user_id", "value")
    b = hash_bucket("user_id")
    per = e.select(
        F.when(b < 80, "train").otherwise("test").alias("split"),
        "user_id",
        "value",
    )
    stats = per.groupBy("split").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        money(F.sum("value") + 1e-4).alias("total_value"),
    )
    intact = (
        per.groupBy("user_id")
        .agg(F.countDistinct("split").alias("k"))
        .agg((F.max("k") == 1).alias("group_intact"))
    )
    return (
        stats.crossJoin(F.broadcast(intact))
        .select("split", "n_users", "n_events", "total_value", "group_intact")
        .orderBy("split")
    )


_TEMP_MIX_N = 200.0  # target sample size across all length classes
_TEMP_MIX_ALPHA = 0.5  # temperature: w_s ∝ n_s^alpha

_TEMP_MIX_CASE_SQL = """CASE WHEN length(text) < 64 THEN 'len_lt64'
             WHEN length(text) < 128 THEN 'len_lt128'
             WHEN length(text) < 256 THEN 'len_lt256'
             WHEN length(text) < 512 THEN 'len_lt512'
             ELSE 'len_ge512' END"""


@register(
    "sample_temperature_mix",
    tags=("sampling", "mixing", "llm"),
    oracle=f"""
WITH d AS MATERIALIZED (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        {_TEMP_MIX_CASE_SQL} AS source
        FROM documents),
 n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_total FROM d GROUP BY 1),
 w AS MATERIALIZED (SELECT source, n_total, pow(n_total, {_TEMP_MIX_ALPHA}) AS wt FROM n),
 f AS (SELECT source, n_total,
        least(1.0, {_TEMP_MIX_N} * wt / (SELECT sum(wt) FROM w) / n_total) AS frac
       FROM w),
 t AS (SELECT source, n_total, frac,
        CAST(floor(frac * 4294967296.0 * (1.0 + 1e-12) + 1e-6) AS BIGINT) AS thr FROM f),
 hit AS (SELECT d.source, d.n_chars
         FROM d JOIN t ON t.source = d.source
         WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                    AS BIGINT) < t.thr),
 agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
         CAST(sum(n_chars) AS BIGINT) AS chars_sampled FROM hit GROUP BY 1)
SELECT t.source, t.n_total, round(t.frac + 1e-9, 4) AS sel_frac,
       CAST(coalesce(a.n_sampled, 0) AS BIGINT) AS n_sampled,
       CAST(coalesce(a.chars_sampled, 0) AS BIGINT) AS chars_sampled
FROM t LEFT JOIN agg a USING (source)
ORDER BY t.source
""",
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing — the T5/multilingual-corpus
    recipe: per-source sampling weight ``w_s ∝ n_s^α`` (α = 0.5), so
    rare sources are upsampled relative to proportional mixing and
    dominant ones downsampled, with per-source take fraction
    ``f_s = min(1, N·p_s / n_s)``. Sources here are document length
    classes (fixed 64/128/256/512-char breakpoints — naturally skewed
    in the corpus, and exact-integer portable where a float log2 class
    could diverge by one ULP at a boundary).

    Scale shape: one map-side count per source (the "corpus manifest",
    sources-sized), the mixing arithmetic on that tiny frame, then ONE
    fact scan with a broadcast threshold join and a per-row md5
    predicate — membership is a pure function of (doc_id, manifest), so
    the sample is identical across engines, reruns, partitionings, and
    cluster sizes, and no corpus-scale shuffle ever happens (same
    contract as sample_hash_bernoulli; broadcast shape plan-audited in
    test_plan_audits). The float thresholds are
    integerized against the 32-bit hash space with a RELATIVE nudge
    (``*(1+1e-12)``, ~4400 ULP of margin at the top of the range where
    one ULP of ``frac*2^32`` is ~9.5e-7 and an absolute 1e-6 alone
    would cover barely one) plus a small absolute term for thresholds
    near zero, so an engine-side ULP difference in pow/sum cannot flip
    a comparison except for a doc whose hash lands on the exact
    boundary integer — and both engines apply the identical formula."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    docs = docs.withColumn(
        "source",
        F.when(F.col("n_chars") < 64, "len_lt64")
        .when(F.col("n_chars") < 128, "len_lt128")
        .when(F.col("n_chars") < 256, "len_lt256")
        .when(F.col("n_chars") < 512, "len_lt512")
        .otherwise("len_ge512"),
    )
    n = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    w = n.withColumn("wt", F.pow("n_total", F.lit(_TEMP_MIX_ALPHA)))
    tw = w.agg(F.sum("wt").alias("tw"))
    t = (
        w.crossJoin(F.broadcast(tw))
        .withColumn(
            "frac",
            F.least(
                F.lit(1.0),
                F.lit(_TEMP_MIX_N) * F.col("wt") / F.col("tw") / F.col("n_total"),
            ),
        )
        .withColumn(
            "thr",
            F.floor(
                F.col("frac") * F.lit(4294967296.0) * F.lit(1.0 + 1e-12) + F.lit(1e-6)
            ).cast("long"),
        )
    )
    hit = (
        docs.select("source", "n_chars", hash_u32("doc_id").alias("u"))
        .join(F.broadcast(t.select("source", "thr")), "source")
        .where(F.col("u") < F.col("thr"))
    )
    agg = hit.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum("n_chars").cast("long").alias("chars_sampled"),
    )
    return (
        t.join(agg, "source", "left")
        .select(
            "source",
            "n_total",
            F.round(F.col("frac") + 1e-9, 4).alias("sel_frac"),
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            F.coalesce("chars_sampled", F.lit(0)).cast("long").alias("chars_sampled"),
        )
        .orderBy("source")
    )


_QUOTA_N = 100  # eval-set size apportioned across strata


@register(
    "sample_quota_largest_remainder",
    tags=("sampling", "quota", "eval"),
    oracle=f"""
WITH n AS (SELECT c_mktsegment AS stratum, CAST(count(*) AS BIGINT) AS n_total
           FROM customer GROUP BY 1),
 tot AS (SELECT CAST(sum(n_total) AS BIGINT) AS t FROM n),
 base AS (SELECT stratum, n_total,
          ({_QUOTA_N} * n_total) // t AS floor_q,
          ({_QUOTA_N} * n_total) % t  AS rem
          FROM n CROSS JOIN tot),
 short AS (SELECT {_QUOTA_N} - CAST(sum(floor_q) AS BIGINT) AS k FROM base),
 q AS (SELECT stratum, n_total,
        CAST(floor_q + CASE WHEN
          row_number() OVER (ORDER BY rem DESC, stratum) <= (SELECT k FROM short)
          THEN 1 ELSE 0 END AS BIGINT) AS quota
       FROM base),
 ranked AS (SELECT c_mktsegment AS stratum, c_custkey, c_acctbal,
            row_number() OVER (
              PARTITION BY c_mktsegment
              ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rk
            FROM customer),
 pick AS (SELECT r.stratum, r.c_custkey, r.c_acctbal
          FROM ranked r JOIN q ON q.stratum = r.stratum
          WHERE r.rk <= q.quota)
SELECT q.stratum, q.n_total, q.quota,
       CAST(coalesce(p.n, 0) AS BIGINT) AS n_sampled,
       CAST(coalesce(p.key_xor, 0) AS BIGINT) AS key_xor,
       round(coalesce(p.bal, 0) + 1e-4, 2) AS sum_acctbal
FROM q LEFT JOIN (
  SELECT stratum, count(*) AS n,
         bit_xor(CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 3, 15))::BIGINT
                      AS BIGINT)) AS key_xor,
         sum(c_acctbal) AS bal
  FROM pick GROUP BY 1) p USING (stratum)
ORDER BY q.stratum
""",
)
def sample_quota_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-quota stratified sampling via largest-remainder (Hamilton)
    apportionment — eval-set construction where "take 100
    proportionally" must mean EXACTLY N=100 rows, not a Bernoulli
    expectation: per-stratum floor quotas ``(N*n_s) div total`` plus one
    extra for the ``N - Σfloor`` largest remainders (ties broken by
    stratum name). Everything is BIGINT arithmetic — cross-engine exact
    with zero float/ULP surface, unlike threshold sampling. Members are
    the quota-first rows per stratum in md5(key) hex order (string
    compare — portable), so the selected SET is deterministic across
    engines/reruns/partitionings; the commutative md5-derived bit_xor
    checksum proves set identity without shipping rows.

    Scale shape: the apportionment runs on the strata-sized manifest;
    selection is TWO-PHASE so the per-stratum rank window never sees
    the corpus: quota-first-by-md5 rows are exactly the smallest
    hashes, so a generous per-stratum hash threshold (~8x the take
    fraction) prefilters the window input down to ~8x quota rows, and
    an EXACT per-stratum sufficiency check (survivors >= quota, one
    tiny aggregate) falls back to the unfiltered input in the
    astronomically-rare shortfall case — same answer either way,
    verified not assumed. Rank-based exactness is what you pay for
    over sample_temperature_mix's shuffle-free threshold membership."""
    cust = T(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("stratum"), "c_custkey", "c_acctbal"
    )
    n = cust.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    tot = n.agg(F.sum("n_total").cast("long").alias("t"))
    base = (
        n.crossJoin(F.broadcast(tot))
        .withColumn("floor_q", F.expr(f"({_QUOTA_N}L * n_total) div t"))
        .withColumn("rem", F.expr(f"({_QUOTA_N}L * n_total) % t"))
    )
    short = base.agg(
        (F.lit(_QUOTA_N) - F.sum("floor_q")).cast("long").alias("k")
    )
    q = (
        base.crossJoin(F.broadcast(short))
        .withColumn(
            "rk_rem",
            F.row_number().over(W.orderBy(F.desc("rem"), "stratum")),
        )
        .select(
            "stratum",
            "n_total",
            (
                F.col("floor_q")
                + F.when(F.col("rk_rem") <= F.col("k"), 1).otherwise(0)
            ).cast("long").alias("quota"),
        )
    )
    # two-phase selection: the quota-first rows per stratum are the
    # SMALLEST md5 hex strings, and hex-string order agrees with the
    # numeric order of the leading-32-bit integer, so u < thr keeps a
    # superset of the top-quota set whenever >= quota rows survive —
    # which the exact check below verifies before trusting the filter.
    thr = q.select(
        "stratum",
        F.least(
            F.lit(1.0), F.lit(8.0) * F.col("quota") / F.col("n_total")
        ).alias("__f"),
    ).select(
        "stratum",
        F.ceil(F.col("__f") * F.lit(4294967296.0)).cast("long").alias("__thr"),
    )
    pre = cust.withColumn("__u", hash_u32("c_custkey")).join(
        F.broadcast(thr), "stratum"
    ).where(F.col("__u") < F.col("__thr"))
    # LEFT join from the quota side: a stratum with quota > 0 but ZERO
    # survivors produces no group in the survivor counts at all — an
    # inner join would silently drop it from the check and the fallback
    # would never trigger (found in round-11 self-review)
    enough = (
        q.select("stratum", "quota")
        .join(
            pre.groupBy("stratum").agg(F.count(F.lit(1)).alias("__n")),
            "stratum",
            "left",
        )
        .where(F.coalesce("__n", F.lit(0)) < F.col("quota"))
        .count()
        == 0
    )
    window_in = pre if enough else cust
    ranked = window_in.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("stratum").orderBy(
                F.md5(F.col("c_custkey").cast("string").cast("binary")),
                "c_custkey",
            )
        ),
    )
    pick = ranked.join(F.broadcast(q.select("stratum", "quota")), "stratum").where(
        F.col("rk") <= F.col("quota")
    )
    key64 = (
        F.conv(
            F.substring(
                F.md5(F.col("c_custkey").cast("string").cast("binary")), 3, 15
            ),
            16,
            10,
        ).cast("long")
    )
    agg = pick.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.bit_xor(key64).alias("key_xor"),
        F.sum("c_acctbal").alias("bal"),
    )
    return (
        q.join(agg, "stratum", "left")
        .select(
            "stratum",
            "n_total",
            "quota",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            F.coalesce("key_xor", F.lit(0)).cast("long").alias("key_xor"),
            money(F.coalesce("bal", F.lit(0.0)) + 1e-4).alias("sum_acctbal"),
        )
        .orderBy("stratum")
    )
