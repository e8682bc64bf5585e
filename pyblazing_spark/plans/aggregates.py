"""Aggregation operator suite — the reference's ``AggregateKind`` set
(``engine/src/operators/GroupBy.h:15-28``: SUM, SUM0, MEAN, MIN, MAX,
COUNT_VALID, COUNT_ALL, COUNT_DISTINCT) with and without keys
(``GroupBy.cpp:227-270``), plus the Spark-native superset the reference
lacks (grouping sets / cube / rollup — SURVEY.md §2.3 "No grouping sets",
statistical aggs, approximate aggs).

E2E model: ``groupBySuite.yaml``, ``countDistinctSuite.yaml``,
``aggregationsWithoutGroupBySuite.yaml``, ``countWithoutGroupBySuite.yaml``.

Scale: every query here is scan -> partial agg -> exchange on group key ->
final agg; Spark inserts the partial/final split that the reference
hand-built as ComputeAggregate/DistributeAggregate/MergeAggregate
(``BatchAggregationProcessing.h:15-56``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyblazing_spark.plans.registry import register
from pyblazing_spark.plans.tpch import money, ratio
from pyblazing_spark.sources.tables import load_table as T, register_views


@register(
    "agg_groupby",
    tags=("aggregate",),
    oracle="""
SELECT l_returnflag,
       round(sum(l_quantity), 2)  AS sum_qty,
       round(min(l_quantity), 2)  AS min_qty,
       round(max(l_quantity), 2)  AS max_qty,
       round(avg(l_quantity), 4)  AS avg_qty,
       count(l_quantity)          AS cnt_valid,
       count(*)                   AS cnt_all
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed hash aggregation over the full AggregateKind set."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            money(F.sum("l_quantity")).alias("sum_qty"),
            money(F.min("l_quantity")).alias("min_qty"),
            money(F.max("l_quantity")).alias("max_qty"),
            ratio(F.avg("l_quantity")).alias("avg_qty"),
            F.count("l_quantity").alias("cnt_valid"),
            F.count(F.lit(1)).alias("cnt_all"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_no_group",
    tags=("aggregate", "reduction"),
    oracle="""
SELECT round(sum(o_totalprice), 2) AS total,
       round(avg(o_totalprice), 4) AS avg_price,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price,
       count(*) AS n
FROM orders
""",
)
def agg_no_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless reductions (reference ``GroupBy.cpp:227-270``)."""
    od = T(spark, sf_dir, "orders")
    return od.agg(
        money(F.sum("o_totalprice")).alias("total"),
        ratio(F.avg("o_totalprice")).alias("avg_price"),
        money(F.min("o_totalprice")).alias("min_price"),
        money(F.max("o_totalprice")).alias("max_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_count_distinct",
    bench=True,
    tags=("aggregate", "distinct"),
    oracle="""
SELECT o_orderstatus,
       count(DISTINCT o_orderpriority)            AS n_prio,
       count(DISTINCT o_custkey)                  AS n_cust,
       CAST(sum(DISTINCT CAST(o_custkey % 10 AS BIGINT)) AS BIGINT) AS sum_d,
       count(*)                                   AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one group-by — Calcite expanded
    these into join trees for the reference
    (``AggregateExpandDistinctAggregatesRule.JOIN``,
    ``RelationalAlgebraGenerator.java:190``); Catalyst's
    RewriteDistinctAggregates handles it in one expand."""
    od = T(spark, sf_dir, "orders")
    return (
        od.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_orderpriority").alias("n_prio"),
            F.countDistinct("o_custkey").alias("n_cust"),
            F.sum_distinct((F.col("o_custkey") % 10).cast("long")).alias("sum_d"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_sum0_empty",
    tags=("aggregate", "nulls"),
    oracle="""
SELECT CAST(coalesce(sum(c_acctbal), 0) AS DOUBLE) AS sum0_bal,
       sum(c_acctbal) AS sum_bal,
       count(*) AS n
FROM customer WHERE c_acctbal > 1e18
""",
)
def agg_sum0_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM0 vs SUM over an empty input: SUM0 -> 0, SUM -> NULL
    (reference ``GroupBy.cpp:262-268``; Calcite rewrites AVG through
    SUM0)."""
    cu = T(spark, sf_dir, "customer").where(F.col("c_acctbal") > 1e18)
    return cu.agg(
        F.coalesce(F.sum("c_acctbal"), F.lit(0.0)).alias("sum0_bal"),
        F.sum("c_acctbal").alias("sum_bal"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_having",
    tags=("aggregate", "having"),
    oracle="""
SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 12 AND sum(o_totalprice) > 1000000
ORDER BY o_custkey
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    od = T(spark, sf_dir, "orders")
    return (
        od.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("raw_spend"),
        )
        .where((F.col("n_orders") >= 12) & (F.col("raw_spend") > 1000000))
        .select("o_custkey", "n_orders", money(F.col("raw_spend")).alias("spend"))
        .orderBy("o_custkey")
    )


@register(
    "agg_rollup",
    tags=("aggregate", "rollup"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — capability the reference lacks entirely (SURVEY.md §2.3)."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(money(F.sum("l_quantity")).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "agg_cube",
    tags=("aggregate", "cube"),
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       round(sum(o_totalprice), 2) AS total, count(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two keys."""
    od = T(spark, sf_dir, "orders")
    return (
        od.cube("o_orderstatus", "o_orderpriority")
        .agg(money(F.sum("o_totalprice")).alias("total"), F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "agg_grouping_sets",
    tags=("aggregate", "grouping-sets", "sql"),
    oracle="""
SELECT c_mktsegment, c_nationkey, count(*) AS n,
       round(avg(c_acctbal), 4) AS avg_bal
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS, expressed through the SQL entry point
    (exercises ``spark.sql`` over registered views)."""
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, count(*) AS n,
               round(avg(c_acctbal), 4) AS avg_bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST
        """
    )


@register(
    "agg_stats",
    tags=("aggregate", "stats"),
    oracle="""
SELECT c_mktsegment,
       round(stddev_samp(c_acctbal), 2) AS sd_samp,
       round(stddev_pop(c_acctbal), 2)  AS sd_pop,
       round(var_samp(c_acctbal) / 1e6, 2)  AS var_samp_m,
       round(var_pop(c_acctbal) / 1e6, 2)   AS var_pop_m,
       round(median(c_acctbal), 4)      AS med
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates — absent from the reference's AggregateKind
    enum; Spark superset."""
    cu = T(spark, sf_dir, "customer")
    return (
        cu.groupBy("c_mktsegment")
        .agg(
            money(F.stddev_samp("c_acctbal")).alias("sd_samp"),
            money(F.stddev_pop("c_acctbal")).alias("sd_pop"),
            money(F.var_samp("c_acctbal") / 1e6).alias("var_samp_m"),
            money(F.var_pop("c_acctbal") / 1e6).alias("var_pop_m"),
            ratio(F.median("c_acctbal")).alias("med"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_approx_distinct",
    tags=("aggregate", "approx"),
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       TRUE                       AS approx_within_5pct
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count — the scale path for COUNT(DISTINCT)
    at 100 TB (no exact distinct shuffle). No reference equivalent
    (SURVEY.md §2.3 'No approximate aggregates').

    Property-style oracle: the sketch value itself isn't portable, so the
    result carries the exact count plus a boolean asserting the HLL++
    estimate (rsd=0.02) landed within 5% — DuckDB recomputes the exact
    side and expects TRUE. (rsd=0.01 costs ~5x the runtime for register
    arrays 4x larger; measured error at sf0.001/0.01/0.1 with rsd=0.02
    is 0.2-3.3%, so the 5% bound holds with margin.)

    Plan note (r14): mixing countDistinct with approx_count_distinct in
    ONE agg makes Catalyst key the partial HLL by (group, orderkey) — a
    ~3.3 KB register array PER DISTINCT KEY shuffled (~500 MB at sf0.1,
    measured 4.4-17 s). Deduplicate (flag, orderkey) first, then run
    BOTH aggregates over the deduped keys: HLL is duplicate-insensitive
    (same hash -> same register update), so the estimate is
    bit-identical, and count(non-null key) over the deduped frame IS
    countDistinct. The shuffle narrows to 16-byte key rows."""
    li = T(spark, sf_dir, "lineitem")
    dedup = li.select("l_returnflag", "l_orderkey").distinct()
    return (
        dedup.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("__approx"),
            F.count("l_orderkey").alias("exact_orders"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("__approx") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("approx_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_distinct_rows",
    tags=("aggregate", "distinct"),
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
ORDER BY l_returnflag, l_linestatus
""",
)
def agg_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT = group-by-all-columns (the reference's UNION-dedup
    idiom, ``PhysicalPlanGenerator.h:252-296``)."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_pivot",
    tags=("aggregate", "pivot"),
    oracle="""
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (Spark-native; reference users hand-wrote CASE sums)."""
    li = T(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("l_quantity"))
    )
    return pivoted.select(
        "l_returnflag",
        money(F.col("F")).alias("F"),
        money(F.col("O")).alias("O"),
    ).orderBy("l_returnflag")


@register(
    "agg_percentiles",
    tags=("aggregate", "percentile"),
    oracle="""
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.25) + 1e-9, 4) AS p25,
       round(quantile_cont(o_totalprice, 0.50) + 1e-9, 4) AS p50,
       round(quantile_cont(o_totalprice, 0.90) + 1e-9, 4) AS p90
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (no reference equivalent —
    it had no percentile/median at all; Spark's ``percentile`` matches
    DuckDB's ``quantile_cont`` bit-for-bit on doubles).

    Scale note: exact percentiles buffer each group's values — fine for
    bounded groups like these 5 priorities; for high-cardinality keys at
    100 TB switch to ``percentile_approx`` (t-digest, mergeable)."""
    od = T(spark, sf_dir, "orders")
    return (
        od.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.25)) + 1e-9, 4).alias("p25"),
            F.round(F.percentile("o_totalprice", F.lit(0.50)) + 1e-9, 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.90)) + 1e-9, 4).alias("p90"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_approx_percentile",
    tags=("aggregate", "approx", "percentile"),
    oracle="""
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5) + 1e-9, 4) AS exact_p50,
       round(quantile_cont(o_totalprice, 0.9) + 1e-9, 4) AS exact_p90,
       TRUE AS approx_within_1pct
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles — the scale path for quantiles at 100 TB
    (mergeable per-partition sketches; the exact operator needs a global
    sort per group). No reference equivalent (SURVEY.md §2.3 'No
    approximate aggregates').

    Property-style oracle: sketches aren't portable across engines, so
    the result carries the exact percentiles plus a boolean asserting
    both sketch estimates (accuracy=10000) landed within 1% relative
    error — DuckDB recomputes the exact side and expects TRUE."""
    od = T(spark, sf_dir, "orders")
    within = lambda a, e: F.abs(F.col(a) - F.col(e)) <= 0.01 * F.abs(F.col(e))  # noqa: E731
    return (
        od.groupBy("o_orderstatus")
        .agg(
            F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias("__a50"),
            F.percentile("o_totalprice", F.lit(0.5)).alias("__e50"),
            F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(10000)).alias("__a90"),
            F.percentile("o_totalprice", F.lit(0.9)).alias("__e90"),
        )
        .select(
            "o_orderstatus",
            F.round(F.col("__e50") + 1e-9, 4).alias("exact_p50"),
            F.round(F.col("__e90") + 1e-9, 4).alias("exact_p90"),
            (within("__a50", "__e50") & within("__a90", "__e90")).alias(
                "approx_within_1pct"
            ),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_sketch_rollup",
    tags=("aggregate", "approx", "sketch"),
    oracle="""
WITH per AS (
  SELECT event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY event_type),
 total AS (
  SELECT '__ALL__' AS event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events)
SELECT event_type, exact_users, TRUE AS sketch_within_5pct
FROM (SELECT * FROM per UNION ALL SELECT * FROM total)
ORDER BY event_type
""",
)
def agg_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Apache DataSketches HLL via
    ``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``):
    per-event-type distinct-user sketches, then the GLOBAL estimate
    computed by UNIONING the per-type sketches — never re-scanning the
    events.

    This mergeability is the 100 TB property exact COUNT(DISTINCT)
    lacks: sketches roll up along any dimension hierarchy (hour -> day,
    type -> all) with bytes-sized state, so a 1000-executor rollup tree
    shuffles KBs instead of re-shuffling user ids per level. lgConfigK=14
    bounds relative error ~0.8% << the asserted 5%; at test-corpus
    cardinalities the sketch is in exact (sparse) mode.

    Property-style oracle (sketch bytes aren't portable): exact counts
    plus a boolean asserting every estimate — including the merged
    '__ALL__' row — landed within 5% of DuckDB's exact recompute."""
    ev = T(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    typed = per.select(
        "event_type",
        "exact_users",
        F.hll_sketch_estimate("sk").alias("__est"),
    )
    merged = (
        per.agg(
            F.hll_union_agg("sk").alias("msk"),
        )
        .crossJoin(ev.agg(F.countDistinct("user_id").alias("exact_users")))
        .select(
            F.lit("__ALL__").alias("event_type"),
            "exact_users",
            F.hll_sketch_estimate("msk").alias("__est"),
        )
    )
    out = typed.unionByName(merged)
    return (
        out.select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("__est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("sketch_within_5pct"),
        )
        .orderBy("event_type")
    )


_CMS_PROBE_KEYS = (1, 7, 42, 77, 123, 150)
_CMS_EPS = 0.001
_CMS_CONF = 0.99
# The eps*N error bound below holds with confidence _CMS_CONF (0.99),
# not certainty: under THIS seed it is deterministic for the committed
# fixtures at every SF (verified sf0.001/0.01/0.1), but a regenerated
# fixture or brand-new SF could legitimately land in the 1% tail and
# flip `cms_within_eps_n` to FALSE with no code bug.  If that happens,
# re-pick _CMS_SEED (any seed whose probe estimates sit inside the
# bound) — do NOT hunt for a regression in the merge path; the
# guaranteed-by-construction property is `cms_never_undercounts`.
_CMS_SEED = 42


@register(
    "agg_countmin_rollup",
    tags=("aggregate", "approx", "sketch", "heavy-hitters"),
    oracle=f"""
WITH keys(probe_key) AS (
  VALUES (1), (7), (42), (77), (123), (150)),
 exact AS (
  SELECT k.probe_key,
         CAST(count(o.o_custkey) AS BIGINT) AS exact_count
  FROM keys k LEFT JOIN orders o ON o.o_custkey = k.probe_key
  GROUP BY k.probe_key)
SELECT CAST(probe_key AS BIGINT) AS probe_key,
       exact_count,
       TRUE AS cms_never_undercounts,
       -- eps*N bound: 0.99-CONFIDENCE property, deterministic only under
       -- the fixed _CMS_SEED on the committed fixtures; a flip at a new
       -- SF means re-pick the seed, not a merge-path regression (see
       -- the _CMS_SEED comment in this file).
       TRUE AS cms_within_eps_n,
       (SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders)
         AS n_sketches_merged
FROM exact
ORDER BY probe_key
""",
)
def agg_countmin_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Count-Min-Sketch frequency rollup: per-priority CMS
    sketches over the order custkeys (``count_min_sketch`` aggregate,
    eps=0.001 / conf=0.99 / fixed seed), MERGED into one global sketch
    via the sketch library's ``mergeInPlace`` — never re-scanning the
    fact — then probed for a bounded literal key set.

    The frequency-sketch sibling of ``agg_sketch_rollup`` (HLL counts
    DISTINCTS; CMS estimates per-key FREQUENCIES — the heavy-hitters /
    per-key-quota primitive). Mergeability is the 100 TB property: a
    1000-executor rollup tree combines ~80 KB sketches along any
    dimension hierarchy (hour → day, priority → all) instead of
    re-shuffling raw keys per level. Spark exposes no SQL-level CMS
    merge/probe (unlike HLL's ``hll_union_agg``), so the rollup step
    runs through the JVM sketch class driver-side — bounded by
    contract: one ≤100 KB sketch per group (5 groups), the exact shape
    a periodic rollup job ships to a coordinator.

    Oracle: exact per-key counts and the merge arity are value-compared
    (DuckDB recomputes both); the CMS estimates themselves live behind
    deterministic property booleans (sketch hashing isn't portable) —
    ``est >= exact`` (CMS never undercounts) and
    ``est <= exact + ceil(eps·N)`` (the CMS error bound, deterministic
    under the fixed seed)."""
    import math

    fact = T(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    per = fact.groupBy("o_orderpriority").agg(
        F.count_min_sketch(
            "o_custkey",
            F.lit(_CMS_EPS),
            F.lit(_CMS_CONF),
            F.lit(_CMS_SEED),
        ).alias("sk"),
        F.count(F.lit(1)).alias("n_items"),
    )
    rows = per.collect()  # bounded: one sketch per priority (5 rows)
    jvm = spark._jvm
    cms_cls = jvm.org.apache.spark.util.sketch.CountMinSketch
    merged = None
    n_total = 0
    for r in rows:
        stream = jvm.java.io.ByteArrayInputStream(bytes(r["sk"]))
        sketch = cms_cls.readFrom(stream)
        merged = sketch if merged is None else merged.mergeInPlace(sketch)
        n_total += int(r["n_items"])
    estimates = {
        k: (int(merged.estimateCount(k)) if merged is not None else 0)
        for k in _CMS_PROBE_KEYS
    }
    bound = int(math.ceil(_CMS_EPS * n_total))
    keys_df = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(k).cast("long") for k in _CMS_PROBE_KEYS])
        ).alias("probe_key")
    )
    exact = (
        keys_df.join(
            fact, keys_df.probe_key == fact.o_custkey, "left"
        )
        .groupBy("probe_key")
        .agg(F.count("o_custkey").alias("exact_count"))
    )
    est_map = F.create_map(
        *[
            part
            for k in _CMS_PROBE_KEYS
            for part in (
                F.lit(k).cast("long"),
                F.lit(estimates[k]).cast("long"),
            )
        ]
    )
    return (
        exact.withColumn("__est", est_map[F.col("probe_key")])
        .select(
            "probe_key",
            "exact_count",
            (F.col("__est") >= F.col("exact_count")).alias(
                "cms_never_undercounts"
            ),
            (F.col("__est") <= F.col("exact_count") + F.lit(bound)).alias(
                "cms_within_eps_n"
            ),
            F.lit(len(rows)).cast("long").alias("n_sketches_merged"),
        )
        .orderBy("probe_key")
    )


@register(
    "agg_mode",
    tags=("aggregate", "mode"),
    oracle="""
WITH counts AS (
  SELECT l_returnflag, l_quantity, CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_returnflag, l_quantity),
 ranked AS (
  SELECT *, row_number() OVER (PARTITION BY l_returnflag
                               ORDER BY n DESC, l_quantity) AS rn
  FROM counts)
SELECT l_returnflag,
       round(l_quantity, 2) AS mode_qty,
       n                    AS n_occurrences
FROM ranked WHERE rn = 1
ORDER BY l_returnflag
""",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group (most frequent l_quantity; ties to
    the smallest value). Spark 3.4+ has a native ``mode()`` aggregate
    but its tie-breaking is engine-arbitrary, so the portable
    formulation — count + windowed rank with an explicit tie order — is
    used on BOTH sides; it is also the scale-correct shape (two
    partial-aggregated shuffles on (group, value) then (group), never a
    per-group value collection)."""
    li = T(spark, sf_dir, "lineitem")
    from pyspark.sql import Window as W

    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("l_returnflag").orderBy(F.desc("n"), F.col("l_quantity"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.round("l_quantity", 2).alias("mode_qty"),
            F.col("n").alias("n_occurrences"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_histogram",
    tags=("aggregate", "histogram"),
    oracle="""
SELECT least(CAST(floor(o_totalprice / 30000) AS BIGINT), 19) AS bin_id,
       CAST(count(*) AS BIGINT)       AS n,
       round(min(o_totalprice), 2)    AS lo,
       round(max(o_totalprice), 2)    AS hi,
       round(sum(o_totalprice), 2)    AS total
FROM orders
GROUP BY bin_id
ORDER BY bin_id
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals: 20 fixed 30k-wide bins with
    an open-ended top bucket. Bin arithmetic uses floor-division on both
    engines (DuckDB ``//`` on DOUBLE operands does NOT floor — it is
    plain division — so the oracle spells ``floor()`` explicitly;
    Spark ``floor`` returns BIGINT and the oracle CASTs to align dtype
    families per the repo's floor/ceil convention).

    Scale: the bin id is scan-stage codegen; the groupBy partials to at
    most 20 rows per task before the shuffle, so a 100 TB histogram
    moves 20×n_tasks tiny rows — the textbook map-side-combine case."""
    o = T(spark, sf_dir, "orders")
    binned = o.select(
        F.least(F.floor(F.col("o_totalprice") / 30000), F.lit(19)).alias("bin_id"),
        "o_totalprice",
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money(F.min("o_totalprice")).alias("lo"),
            money(F.max("o_totalprice")).alias("hi"),
            money(F.sum("o_totalprice")).alias("total"),
        )
        .orderBy("bin_id")
    )


@register(
    "agg_corr",
    tags=("aggregate", "stats", "regression"),
    oracle="""
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice) + 1e-9, 4)       AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice) + 1e-4, 2) AS covar_s,
       round(covar_pop(l_quantity, l_extendedprice) + 1e-4, 2)  AS covar_p,
       round(regr_slope(l_extendedprice, l_quantity) + 1e-9, 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity) + 1e-4, 2) AS intercept
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates (correlation, covariance, and
    ordinary-least-squares slope/intercept) per return flag — absent
    from the reference's AggregateKind enum; Spark superset.

    Scale: all five are single-pass mergeable moment aggregates
    (sum, sum-of-products, counts combine associatively), so they
    partial map-side exactly like SUM — a 100 TB regression costs one
    scan and a ≤|groups|-row shuffle."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            ratio(F.corr("l_quantity", "l_extendedprice") + 1e-9).alias(
                "corr_qty_price"
            ),
            money(F.covar_samp("l_quantity", "l_extendedprice") + 1e-4).alias(
                "covar_s"
            ),
            money(F.covar_pop("l_quantity", "l_extendedprice") + 1e-4).alias(
                "covar_p"
            ),
            ratio(F.regr_slope("l_extendedprice", "l_quantity") + 1e-9).alias("slope"),
            money(F.regr_intercept("l_extendedprice", "l_quantity") + 1e-4).alias(
                "intercept"
            ),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_bitwise",
    tags=("aggregate", "bitwise"),
    oracle="""
SELECT o_orderstatus,
       CAST(bit_and(o_orderkey) AS BIGINT)            AS key_and,
       CAST(bit_or(o_orderkey) AS BIGINT)             AS key_or,
       CAST(bit_xor(o_orderkey) AS BIGINT)            AS key_xor,
       CAST(sum(bit_count(o_orderkey)) AS BIGINT)     AS popcount_sum,
       CAST(sum(o_orderkey & 255) AS BIGINT)          AS low_byte_sum,
       CAST(sum((o_orderkey >> 3) & 7) AS BIGINT)     AS mid_bits_sum,
       CAST(sum(xor(o_orderkey, o_custkey)) AS BIGINT) AS xor_mix_sum
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar + aggregate battery: AND/OR/XOR reductions,
    popcount, masks and shifts (dialect note: Spark SQL spells bitwise
    xor ``^`` while DuckDB's ``^`` is exponentiation — the oracle uses
    ``xor()``). All pure integer codegen; the reductions are mergeable
    so they partial map-side like SUM."""
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("bit_and(o_orderkey)").alias("key_and"),
            F.expr("bit_or(o_orderkey)").alias("key_or"),
            F.expr("bit_xor(o_orderkey)").alias("key_xor"),
            F.sum(F.bit_count("o_orderkey").cast("long")).alias("popcount_sum"),
            F.sum(F.expr("o_orderkey & 255")).alias("low_byte_sum"),
            F.sum(F.expr("(o_orderkey >> 3) & 7")).alias("mid_bits_sum"),
            F.sum(F.expr("o_orderkey ^ o_custkey")).alias("xor_mix_sum"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_listagg",
    tags=("aggregate", "listagg", "string_agg"),
    oracle="""
SELECT c_mktsegment,
       string_agg(c_name, '|' ORDER BY c_name) AS names,
       CAST(count(*) AS BIGINT)                AS n
FROM customer
WHERE c_custkey <= 40
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP /
    string_agg ORDER BY): deterministic because the within-group order
    is total. An UNordered listagg would be partitioning-dependent and
    could never hash-match across engines — the ORDER BY is the
    difference between a usable distributed string_agg and a flaky one.

    Scale: Spark materializes each group's members on one reducer —
    correct for bounded groups (dimension rollups, per-entity digests);
    unbounded groups should aggregate summaries, not strings."""
    from pyblazing_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("customer",))
    return spark.sql(
        """
SELECT c_mktsegment,
       listagg(c_name, '|') WITHIN GROUP (ORDER BY c_name) AS names,
       count(*) AS n
FROM customer
WHERE c_custkey <= 40
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""
    )


@register(
    "agg_filter_clause",
    tags=("aggregate", "filter-clause"),
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big,
       round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2)
         AS urgent_total,
       round(avg(o_totalprice) FILTER (WHERE o_orderpriority <> '1-URGENT')
             + 1e-9, 4) AS non_urgent_avg
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2003 FILTER-clause aggregates — per-aggregate predicates in a
    single grouping pass (the declarative form of the CASE-WHEN pivot
    idiom). One scan, one shuffle, four differently-filtered aggregates;
    at 100 TB this halves the passes an equivalent two-query report
    would cost."""
    from pyblazing_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
SELECT o_orderstatus,
       count(*) AS n_total,
       count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
       round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2)
         AS urgent_total,
       round(avg(o_totalprice) FILTER (WHERE o_orderpriority <> '1-URGENT')
             + 1e-9, 4) AS non_urgent_avg
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""
    )


@register(
    "agg_min_max_by",
    tags=("aggregate", "argmin"),
    oracle="""
SELECT o_orderstatus,
       arg_min(o_orderkey, o_totalprice) AS cheapest_key,
       round(min(o_totalprice), 2)       AS cheapest_price,
       arg_max(o_orderkey, o_totalprice) AS priciest_key,
       round(max(o_totalprice), 2)       AS priciest_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregates (Spark ``min_by``/``max_by`` == DuckDB
    ``arg_min``/``arg_max``): the key of each group's cheapest and
    priciest order, with the extremal price alongside to prove the
    pairing. Deterministic because o_totalprice values are unique per
    group in the fixtures AND the paired min/max column would expose a
    mismatched carrier row.

    Scale: single-pass mergeable aggregates (carry (key, extreme)
    pairs through partial aggregation) — same plan budget as MIN/MAX."""
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.min_by("o_orderkey", "o_totalprice").alias("cheapest_key"),
            money(F.min("o_totalprice")).alias("cheapest_price"),
            F.max_by("o_orderkey", "o_totalprice").alias("priciest_key"),
            money(F.max("o_totalprice")).alias("priciest_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_grouping_marker",
    tags=("aggregate", "rollup", "grouping"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT)  AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT)  AS g_status,
       CAST(count(*) AS BIGINT)                AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
""",
)
def agg_grouping_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers — the only way a consumer can tell
    a subtotal row from a genuine NULL group value, which matters the
    moment a grouping column is nullable. Both engines compute the
    marker natively (Spark: Expand + grouping metadata; the reference
    has no rollup at all)."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "n")
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


@register(
    "agg_weighted_median",
    tags=("aggregate", "weighted", "median", "window"),
    oracle="""
WITH w AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price,
         CAST(l_quantity AS BIGINT) AS wt,
         l_orderkey, l_linenumber
  FROM lineitem),
 c AS (
  SELECT flag, price, wt,
         sum(wt) OVER (PARTITION BY flag ORDER BY price, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         sum(wt) OVER (PARTITION BY flag) AS total_w
  FROM w)
SELECT flag, round(min(price), 2) AS weighted_median,
       CAST(min(total_w) AS BIGINT) AS total_weight
FROM c
WHERE cumw * 2 >= total_w
GROUP BY flag
ORDER BY flag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (price weighted by quantity) per return
    flag — neither engine has a native weighted percentile, so both
    compose it identically: a cumulative-weight window over the sorted
    partition, then the first price whose cumulative weight crosses
    half the total. Weights are cast to BIGINT so the running and total
    sums are exact integers — the crossing comparison (cumw*2 >= total)
    can never be flipped by float summation order. Scale shape: one
    shuffle on the group key; the cumulative window is the same
    per-partition sequential pass a sort pays anyway."""
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("long").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    cum_w = (
        Window.partitionBy("flag")
        .orderBy("price", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot_w = Window.partitionBy("flag")
    c = li.select(
        "flag",
        "price",
        F.sum("wt").over(cum_w).alias("cumw"),
        F.sum("wt").over(tot_w).alias("total_w"),
    )
    return (
        c.where(F.col("cumw") * 2 >= F.col("total_w"))
        .groupBy("flag")
        .agg(
            F.round(F.min("price"), 2).alias("weighted_median"),
            F.min("total_w").cast("long").alias("total_weight"),
        )
        .orderBy("flag")
    )


@register(
    "agg_weighted_median_scaled",
    tags=("aggregate", "weighted", "median", "two-phase", "scale"),
    oracle="""
WITH w AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price,
         CAST(l_quantity AS BIGINT) AS wt,
         l_orderkey, l_linenumber
  FROM lineitem),
 c AS (
  SELECT flag, price, wt,
         sum(wt) OVER (PARTITION BY flag ORDER BY price, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         sum(wt) OVER (PARTITION BY flag) AS total_w
  FROM w)
SELECT flag, round(min(price), 2) AS weighted_median,
       CAST(min(total_w) AS BIGINT) AS total_weight
FROM c
WHERE cumw * 2 >= total_w
GROUP BY flag
ORDER BY flag
""",
)
def agg_weighted_median_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for :func:`agg_weighted_median` (same oracle —
    results must be identical): the naive formulation runs one
    cumulative window per group, so 3 return flags give 3-way
    parallelism no matter the cluster (the 10x probe paid 8.5 s for a
    3-partition sort).  Two-phase fix, the win_no_partition /
    win_global_scaled pairing pattern applied to a weighted quantile:

    1. Fixed-width price buckets (500-wide) aggregate per (flag,
       bucket) weight — a map-side-combined shuffle of (flag, bkt,
       weight) longs, fully parallel.
    2. A TINY window over the ~210 bucket rows per flag finds the
       crossing bucket (the one where cumulative weight passes half
       the total) and its preceding cumulative weight.
    3. Only the crossing bucket's rows (~1/210 of the data) replay the
       exact row-level cumulative pass, offset by the bucket prefix —
       the answer (min price with cumw*2 >= total) is provably the
       same row the one-window form selects.

    At 100 TB this is the difference between a 3-core sort of the fact
    table and an embarrassingly parallel aggregation plus a sort of
    0.5% of one bucket."""
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("long").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    b = li.withColumn("bkt", F.expr("CAST(floor(price / 500) AS BIGINT)"))
    per_bkt = b.groupBy("flag", "bkt").agg(F.sum("wt").alias("w"))
    wb = (
        Window.partitionBy("flag")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_b = per_bkt.select(
        "flag",
        "bkt",
        "w",
        (F.sum("w").over(wb) - F.col("w")).alias("cum_before"),
        F.sum("w").over(Window.partitionBy("flag")).alias("total_w"),
    )
    crossing = (
        cum_b.where((F.col("cum_before") + F.col("w")) * 2 >= F.col("total_w"))
        .groupBy("flag")
        .agg(F.min("bkt").alias("bkt"))
        .join(cum_b.select("flag", "bkt", "cum_before", "total_w"), ["flag", "bkt"])
    )
    rows = b.join(F.broadcast(crossing), ["flag", "bkt"])
    wrow = (
        Window.partitionBy("flag")
        .orderBy("price", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rows.withColumn("cumw", F.sum("wt").over(wrow) + F.col("cum_before"))
        .where(F.col("cumw") * 2 >= F.col("total_w"))
        .groupBy("flag")
        .agg(
            F.round(F.min("price"), 2).alias("weighted_median"),
            F.min("total_w").cast("long").alias("total_weight"),
        )
        .orderBy("flag")
    )


@register(
    "agg_approx_topk",
    tags=("aggregate", "approx", "sketch", "topk"),
    oracle="""
WITH exact AS (
  SELECT event_type AS item, CAST(count(*) AS BIGINT) AS freq
  FROM events GROUP BY event_type)
SELECT CAST(row_number() OVER (ORDER BY freq DESC, item) AS INTEGER) AS rank,
       item, freq
FROM exact
ORDER BY rank
""",
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items rollup via Spark 4's ``approx_top_k``
    sketch family: per-shard ``approx_top_k_accumulate`` states are
    ``approx_top_k_combine``-d into one global state, then estimated —
    the heavy-hitters analogue of the HLL rollup (``agg_sketch_rollup``),
    and the third mergeable-sketch shape next to HLL and Count-Min.

    The 100 TB property: each shard (here ``user_id % 4``; in production
    a partition/day/source) ships a BOUNDED sketch state upward instead
    of re-shuffling raw keys per rollup level, so a 1000-executor
    hierarchy exchanges KBs per node. At the fixture's cardinality
    (5 event types << maxItemsTracked=64) the sketch is provably exact,
    so the oracle value-compares the full (item, freq) ranking against
    DuckDB's exact recompute; k is set to the full type count so no
    tie can straddle a cutoff.

    Reference parity: BlazingSQL has no frequent-items aggregate; this
    extends §2.3's approx battery.
    """
    ev = T(spark, sf_dir, "events")
    # The '__sentinel__' shard keeps the combine step non-empty: Spark
    # 4.1's ApproxTopKCombine throws scala.MatchError(null) when asked
    # to evaluate over ZERO input sketches (empty source table), so one
    # constant single-item sketch always participates and its item is
    # filtered back out of the estimate. k is DERIVED from the live
    # distinct type count (+1 for the sentinel) so a fixture gaining
    # event types can never truncate the estimate mid-tie (r8 advice);
    # the count is one driver-side scalar, the same bounded-collect
    # class as the runtime-filter min/max.
    n_types = ev.select("event_type").distinct().count()
    if n_types + 1 > 64:
        raise ValueError(
            f"event_type cardinality {n_types} exceeds the exactness bound "
            "(maxItemsTracked=64) this oracle-compared entry relies on"
        )
    est = spark.sql(
        f"""
WITH shard AS (
  SELECT user_id % 4 AS shard,
         approx_top_k_accumulate(event_type, 64) AS st
  FROM {{ev}} GROUP BY user_id % 4
  UNION ALL
  SELECT -1 AS shard, approx_top_k_accumulate('__sentinel__', 64) AS st),
 comb AS (SELECT approx_top_k_combine(st, 64) AS st FROM shard),
 est AS (SELECT explode(approx_top_k_estimate(st, {n_types + 1})) AS e FROM comb)
SELECT e.item AS item, CAST(e.count AS BIGINT) AS freq FROM est
WHERE e.item <> '__sentinel__'
""",
        ev=ev,
    )
    from pyspark.sql import Window

    return (
        est.withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("freq"), "item"))
            .cast("int"),
        )
        .select("rank", "item", "freq")
        .orderBy("rank")
    )


@register(
    "agg_equidepth_histogram",
    bench=True,  # scale-critical r9 op (two-phase global ntile)
    tags=("aggregate", "histogram", "equidepth", "scale"),
    oracle="""
WITH ranked AS (
  SELECT l_extendedprice AS price,
         ntile(8) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS bucket
  FROM lineitem)
SELECT CAST(bucket AS BIGINT)             AS bucket,
       CAST(count(*) AS BIGINT)           AS n_rows,
       round(min(price) + 1e-4, 2)        AS lo,
       round(max(price) + 1e-4, 2)        AS hi,
       round(sum(price) + 1e-4, 2)        AS mass
FROM ranked GROUP BY bucket ORDER BY bucket
""",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (the statistics engines actually build —
    equal ROW COUNT per bucket, boundaries wherever the data puts
    them), complementing ``agg_histogram``'s equal-WIDTH bins. The
    bucket assignment is ``ntile(8)`` over a UNIQUE total order
    (price, orderkey, linenumber) so remainder placement is
    deterministic on both engines.

    Scale: a global ntile is an unpartitioned window — one task — so
    this entry runs the two-phase
    :func:`pyblazing_spark.operators.global_window.global_ntile`
    (deterministic range buckets + local ranks + prefix offsets folded
    in as literals, the closed-form ntile remainder split) and the
    oracle is DuckDB's NATIVE ntile: the scalable rewrite must equal the
    single-task semantics exactly, remainders included."""
    from pyblazing_spark.operators.global_window import global_ntile

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("price"), "l_orderkey", "l_linenumber"
    )
    b = global_ntile(li, [(["price", "l_orderkey", "l_linenumber"], 8, "bucket")])
    return (
        b.groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("price") + 1e-4, 2).alias("lo"),
            F.round(F.max("price") + 1e-4, 2).alias("hi"),
            F.round(F.sum("price") + 1e-4, 2).alias("mass"),
        )
        .orderBy("bucket")
    )
