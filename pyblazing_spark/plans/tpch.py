"""TPC-H-style core relational queries, adapted to the driver's synthetic
schema (FIXTURES.md — no partsupp, trimmed columns).

These mirror the reference's flagship E2E suite
(``tests/BlazingSQLTest/EndToEndTests/TestSuites/TPCHSuite.yaml``) and its
perf harness (``oldScripts/performanceTest.py:38-200``). Implemented with
the DataFrame API so Catalyst sees a fully declarative plan: filters and
projections reach the parquet scan, dimension joins broadcast, and
aggregations run partial->final with map-side combine — the hand-built
equivalents in the reference are ``BindableTableScan``
(``BatchProcessing.cpp:261-370``), small-side scatter
(``BatchJoinProcessing.cpp:804-845``) and ``MergeAggregate``
(``BatchAggregationProcessing.h:56``).

Scale notes per query are in the docstrings: the fact-side (lineitem,
orders) never collects, never broadcasts; only bounded dimensions do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyblazing_spark.plans.registry import register
from pyblazing_spark.sources.tables import load_table as T


@register(
    "aaa_session_warmup",
    tags=("smoke", "warmup"),
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_regions,
       CAST(sum(r_regionkey) AS BIGINT) AS key_sum
FROM region
""",
)
def aaa_session_warmup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end smoke entry (scan + aggregate + oracle compare) over
    the 5-row region dimension.  Historically pinned to catalog slot 1
    to absorb one-time session costs; that job now runs once per session
    inside ``session.ensure_runtime_confs`` (``_warm_session``), so this
    entry rotates with the rest of the catalog and the driver's formal
    budget is all substantive rows."""
    reg = T(spark, sf_dir, "region")
    return reg.agg(
        F.count(F.lit(1)).alias("n_regions"),
        F.sum("r_regionkey").alias("key_sum"),
    )


def money(col: Column) -> Column:
    """Round a monetary aggregate to 2 dp (both engines, stable hash)."""
    return F.round(col, 2)


def ratio(col: Column) -> Column:
    """Round an average/ratio aggregate to 4 dp."""
    return F.round(col, 4)


def ts(lit: str) -> Column:
    return F.lit(lit).cast("timestamp_ntz")


def _revenue() -> Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "tpch_q1",
    bench=True,
    tags=("aggregate", "filter", "sort"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPCHSuite.yaml query 1 shape).

    Scale: single scan + hash agg on a 6-group key — partial aggregation
    reduces 100 TB to KBs before the (tiny) shuffle. Filter pushes to
    parquet row-group stats.
    """
    li = T(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money(F.sum("l_quantity")).alias("sum_qty"),
            money(F.sum("l_extendedprice")).alias("sum_base_price"),
            money(F.sum(_revenue())).alias("sum_disc_price"),
            money(F.sum(_revenue() * (1 + F.col("l_tax")))).alias("sum_charge"),
            ratio(F.avg("l_quantity")).alias("avg_qty"),
            ratio(F.avg("l_extendedprice")).alias("avg_price"),
            ratio(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q3",
    bench=True,
    tags=("join", "aggregate", "topk"),
    oracle="""
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority: 3-way join + top-k.

    Scale: customer filtered on segment then joined to orders (both shuffle
    on the key); lineitem joins on l_orderkey. orderBy+limit compiles to
    TakeOrderedAndProject — per-partition top-10 then a driver merge of 10
    rows per partition, never a global sort.
    """
    cu = T(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    od = T(spark, sf_dir, "orders").where(F.col("o_orderdate") < ts("1998-03-15"))
    li = T(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > ts("1998-03-15"))
    return (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .join(li, od.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(money(F.sum(_revenue())).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q4",
    tags=("join", "semi", "exists", "aggregate"),
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order priority checking — EXISTS as a left-semi join.

    The reference cannot execute semi joins; Calcite decorrelates EXISTS
    into inner join + agg (SURVEY.md §2.2). Spark's left_semi with a mixed
    equi + non-equi condition keeps it one hash join, no dedup stage.
    """
    od = T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts("1997-01-01")) & (F.col("o_orderdate") < ts("1997-04-01"))
    )
    li = T(spark, sf_dir, "lineitem")
    return (
        od.join(
            li,
            (od.o_orderkey == li.l_orderkey) & (li.l_shipdate > od.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q5",
    bench=True,
    tags=("join", "broadcast", "aggregate"),
    oracle="""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume: 6-table join through the dimension chain.

    Scale: the ASIA region restriction is resolved driver-side first
    (region x nation is a bounded 5-row dimension — the same
    literal-fold class as the global-window offsets), so the customer
    scan carries a pushed-down ``In(c_nationkey, ...)`` predicate and
    lineitem is pruned to ASIA suppliers by the broadcast supplier
    join BEFORE the orderkey shuffle — both fact shuffles move ~1/|R|
    of the rows the naive join order ships (r14; guide §2.3/§3.2:
    pre-filter the big side before the exchange). The only shuffles
    remain fact-fact (customer x orders on custkey, their result x
    pruned lineitem on orderkey); the nation name rides a literal map,
    never a join.
    """
    from itertools import chain

    re = T(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    na = T(spark, sf_dir, "nation")
    # bounded driver collect: |nations in region| <= 25 by schema
    asia = {
        r["n_nationkey"]: r["n_name"]
        for r in na.join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .select("n_nationkey", "n_name")
        .collect()
    }
    keys = sorted(asia)
    # create_map() with zero entries is VOID-typed and cannot be indexed
    # by an INT key — on empty dimensions (no ASIA nations) the name is
    # vacuously NULL because the isin() filter admits no rows.
    name_expr = (
        F.create_map(
            *[F.lit(x) for x in chain.from_iterable((k, asia[k]) for k in keys)]
        )[F.col("s_nationkey")]
        if keys
        else F.lit(None).cast("string")
    )
    su = (
        T(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey").isin(keys))
        .select("s_suppkey", "s_nationkey", name_expr.alias("n_name"))
    )
    cu = T(spark, sf_dir, "customer").where(F.col("c_nationkey").isin(keys))
    od = T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts("1996-01-01")) & (F.col("o_orderdate") < ts("1998-01-01"))
    )
    li_f = T(spark, sf_dir, "lineitem").join(
        F.broadcast(su), F.col("l_suppkey") == su.s_suppkey
    )
    return (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .join(
            li_f,
            (F.col("o_orderkey") == li_f.l_orderkey)
            & (F.col("c_nationkey") == li_f.s_nationkey),
        )
        .groupBy("n_name")
        .agg(money(F.sum(_revenue())).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "tpch_q6",
    bench=True,
    tags=("filter", "aggregate"),
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting revenue change — pure scan+filter+reduce.

    Scale: all three predicates push down to parquet (row-group min/max
    pruning); the global sum is a partial-per-partition then single-row
    merge. This is the query the reference's skip-data subsystem existed
    for (``SkipDataProcessor.cpp:49-120``); Spark does it natively.
    """
    li = T(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= ts("1996-01-01"))
        & (F.col("l_shipdate") < ts("1997-01-01"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(money(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"))


@register(
    "tpch_q10",
    tags=("join", "aggregate", "topk"),
    oracle="""
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c_acctbal, 2) AS acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting: top-20 customers by lost revenue."""
    cu = T(spark, sf_dir, "customer")
    od = T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts("1997-01-01")) & (F.col("o_orderdate") < ts("1997-07-01"))
    )
    li = T(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    na = F.broadcast(T(spark, sf_dir, "nation"))
    return (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .join(li, od.o_orderkey == li.l_orderkey)
        .join(na, cu.c_nationkey == na.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(money(F.sum(_revenue())).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            money(F.col("c_acctbal")).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q12",
    tags=("join", "aggregate", "case"),
    oracle="""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-mode-style conditional counts (adapted: priority buckets)."""
    od = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts("1997-01-01")) & (F.col("l_shipdate") < ts("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "tpch_q14",
    tags=("join", "case", "aggregate"),
    oracle="""
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate <  TIMESTAMP '1997-10-01'
""",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect: conditional revenue ratio; part is broadcast."""
    li = T(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts("1997-09-01")) & (F.col("l_shipdate") < ts("1997-10-01"))
    )
    pa = F.broadcast(T(spark, sf_dir, "part"))
    promo = F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(F.lit(0.0))
    return li.join(pa, li.l_partkey == pa.p_partkey).agg(
        ratio(F.lit(100.0) * F.sum(promo) / F.sum(_revenue())).alias("promo_revenue")
    )


@register(
    "tpch_q18",
    tags=("join", "having", "subquery", "topk"),
    oracle="""
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS totalprice,
       round(sum(l_quantity), 2) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY round(o_totalprice, 2) DESC, o_orderkey
LIMIT 100
""",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers: IN (grouped HAVING subquery) as semi join.

    Scale: the subquery aggregates lineitem by orderkey (shuffle 1), the
    semi join reuses the same key partitioning, as does the final group-by
    — AQE reuses the exchange rather than re-shuffling.
    """
    cu = T(spark, sf_dir, "customer")
    od = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        od.join(big, od.o_orderkey == big.l_orderkey, "left_semi")
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(li, od.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(money(F.sum("l_quantity")).alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            money(F.col("o_totalprice")).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q19",
    bench=True,
    tags=("join", "filter", "disjunction"),
    oracle="""
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
""",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue: OR-of-ANDs mixed join/filter predicates.

    The reference splits this into equi-join + post-filter
    (``split_inequality_join_into_join_and_filter``,
    ``BatchJoinProcessing.h:37``); Catalyst does the same split and also
    derives the common p_brand IN (...) filter pushed into the part scan.
    """
    li = T(spark, sf_dir, "lineitem")
    pa = F.broadcast(T(spark, sf_dir, "part"))
    q, sz, br = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((br == "Brand#1") & sz.between(1, 15) & q.between(1, 11))
        | ((br == "Brand#2") & sz.between(1, 25) & q.between(10, 20))
        | ((br == "Brand#3") & sz.between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .where(cond)
        .agg(money(F.sum(_revenue())).alias("revenue"))
    )


@register(
    "tpch_q22",
    tags=("anti", "subquery", "aggregate"),
    oracle="""
SELECT c_nationkey,
       count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_totalprice > 400000)
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity: scalar subquery + NOT EXISTS anti join.

    Scale: the scalar average is one broadcast row; the anti join shuffles
    on custkey only the pre-filtered orders side.
    """
    cu = T(spark, sf_dir, "customer")
    od = T(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    avg_bal = cu.where(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        cu.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(od, F.col("c_custkey") == od.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money(F.sum("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "tpch_q7",
    tags=("join", "broadcast", "aggregate", "datetime"),
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name IN ('NATION_1','NATION_2','NATION_3')
        AND n2.n_name IN ('NATION_4','NATION_5','NATION_6'))
       OR (n1.n_name IN ('NATION_4','NATION_5','NATION_6')
        AND n2.n_name IN ('NATION_1','NATION_2','NATION_3')))
  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between two nations (TPCHSuite Q7 shape; the
    disjunctive two-nation predicate exercises join-condition pushdown).

    Scale: both nation copies broadcast; the disjunction filters AFTER the
    two cheap dimension joins, so the fact shuffles are only
    lineitem x orders (orderkey) and orders x customer (custkey).
    """
    su = F.broadcast(T(spark, sf_dir, "supplier"))
    n1 = F.broadcast(T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")))
    li = T(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts("1996-01-01")) & (F.col("l_shipdate") <= ts("1997-12-31"))
    )
    od = T(spark, sf_dir, "orders")
    cu = T(spark, sf_dir, "customer")
    grp_a = ("NATION_1", "NATION_2", "NATION_3")
    grp_b = ("NATION_4", "NATION_5", "NATION_6")
    pair = (
        F.col("supp_nation").isin(*grp_a) & F.col("cust_nation").isin(*grp_b)
    ) | (F.col("supp_nation").isin(*grp_b) & F.col("cust_nation").isin(*grp_a))
    return (
        li.join(su, F.col("l_suppkey") == su.s_suppkey)
        .join(od, F.col("l_orderkey") == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(n1, su.s_nationkey == F.col("n1_key"))
        .join(n2, cu.c_nationkey == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(money(F.sum(_revenue())).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8",
    tags=("join", "broadcast", "aggregate", "case"),
    oracle="""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY 1
ORDER BY o_year
""",
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (Q8 shape): conditional aggregation ratio
    over an 8-table join.

    Scale: part is filtered on p_type before the join (pushdown), then the
    join order runs fact-to-fact on orderkey/custkey with every dimension
    broadcast; the CASE ratio is a single pass of partial aggregation.
    """
    pa = T(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    su = F.broadcast(T(spark, sf_dir, "supplier"))
    n1 = F.broadcast(T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")))
    n2 = F.broadcast(T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")))
    re = F.broadcast(T(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    li = T(spark, sf_dir, "lineitem")
    od = T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts("1996-01-01")) & (F.col("o_orderdate") <= ts("1997-12-31"))
    )
    cu = T(spark, sf_dir, "customer")
    vol = _revenue()
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == pa.p_partkey)
        .join(su, F.col("l_suppkey") == su.s_suppkey)
        .join(od, F.col("l_orderkey") == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(n1, cu.c_nationkey == F.col("n1_key"))
        .join(re, F.col("n1_region") == re.r_regionkey)
        .join(n2, su.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            ratio(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q13",
    tags=("join", "outer", "aggregate"),
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (Q13 shape; the reference filters
    o_comment, which TESTDATA drops — o_orderpriority stands in).

    Scale: LEFT join keeps zero-order customers; count(o_orderkey) counts
    only matches. Two aggregations, the second on a tiny domain.
    """
    cu = T(spark, sf_dir, "customer")
    od = T(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cu.join(od, cu.c_custkey == od.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "tpch_q15",
    tags=("join", "subquery", "aggregate"),
    oracle="""
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
ORDER BY s_suppkey
""",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (Q15 shape): CTE revenue view + scalar-max subquery.

    Scale: the revenue aggregate shuffles once on suppkey; the scalar max
    is a one-row broadcast, so the final filter is map-side.
    """
    li = T(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts("1996-01-01")) & (F.col("l_shipdate") < ts("1996-04-01"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(money(F.sum(_revenue())).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    su = T(spark, sf_dir, "supplier")
    return (
        su.join(rev, su.s_suppkey == rev.supplier_no)
        .crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q17",
    tags=("join", "subquery", "correlated", "aggregate"),
    oracle="""
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND p_size = 5
  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
""",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (Q17): correlated scalar subquery,
    decorrelated into a per-part average joined back.

    Scale: this is the textbook decorrelation — the same rewrite Calcite
    did for the reference (SURVEY.md §2.2). The per-part avg aggregates
    lineitem once on partkey; both sides then co-shuffle on partkey.
    """
    li = T(spark, sf_dir, "lineitem")
    pa = F.broadcast(
        T(spark, sf_dir, "part").where((F.col("p_brand") == "Brand#3") & (F.col("p_size") == 5))
    )
    per_part = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cap")
    )
    return (
        li.join(pa, F.col("l_partkey") == pa.p_partkey)
        .join(per_part, F.col("l_partkey") == F.col("ap_key"))
        .where(F.col("l_quantity") < F.col("qty_cap"))
        .agg(money(F.sum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


@register(
    "tpch_q21",
    tags=("join", "exists", "anti", "aggregate", "topk"),
    oracle="""
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (Q21 shape; l_returnflag='R'
    stands in for the receipt>commit lateness test — TESTDATA has no
    commit/receipt dates).

    Scale: the EXISTS/NOT EXISTS pair becomes left_semi + left_anti joins
    on l_orderkey with non-equi side conditions — three co-partitioned
    shuffles of lineitem on orderkey, no cross products.
    """
    su = F.broadcast(T(spark, sf_dir, "supplier"))
    od = T(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = T(spark, sf_dir, "lineitem")
    l1 = li.where(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").alias("l3")
    waiting = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(od, F.col("l1.l_orderkey") == od.o_orderkey)
        .join(su, F.col("l1.l_suppkey") == su.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@register(
    "tpch_q2",
    tags=("join", "subquery", "correlated", "min"),
    oracle="""
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey),
 best AS (SELECT l_partkey, min(unit_cost) AS best_cost FROM cost GROUP BY l_partkey)
SELECT p_partkey, p_name, s_name, round(s_acctbal, 2) AS acctbal,
       round(unit_cost, 4) AS unit_cost
FROM part
JOIN cost ON p_partkey = cost.l_partkey
JOIN best ON best.l_partkey = cost.l_partkey AND unit_cost = best_cost
JOIN supplier ON s_suppkey = cost.l_suppkey
WHERE p_size <= 10 AND p_type = 'ECONOMY'
ORDER BY acctbal DESC, p_partkey, s_name
LIMIT 100
""",
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (Q2 shape; the partsupp cost table is absent
    from TESTDATA, so unit cost derives from lineitem — the correlated
    min-subquery structure is identical).

    Scale: per-(part,supplier) then per-part aggregates co-shuffle on
    partkey; the filtered part dimension broadcasts into the final join.
    """
    li = T(spark, sf_dir, "lineitem")
    pa = F.broadcast(
        T(spark, sf_dir, "part").where((F.col("p_size") <= 10) & (F.col("p_type") == "ECONOMY"))
    )
    su = F.broadcast(T(spark, sf_dir, "supplier"))
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = cost.groupBy(F.col("l_partkey").alias("bp_key")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        pa.join(cost, pa.p_partkey == cost.l_partkey)
        .join(best, (F.col("bp_key") == cost.l_partkey) & (F.col("unit_cost") == F.col("best_cost")))
        .join(su, su.s_suppkey == cost.l_suppkey)
        .select(
            "p_partkey", "p_name", "s_name",
            money(F.col("s_acctbal")).alias("acctbal"),
            ratio(F.col("unit_cost")).alias("unit_cost"),
        )
        .orderBy(F.desc("acctbal"), "p_partkey", "s_name")
        .limit(100)
    )


@register(
    "tpch_q9",
    tags=("join", "aggregate", "datetime"),
    oracle="""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - p_retailprice * l_quantity * 0.1) + 1e-4, 2) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""",
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (Q9 shape; ps_supplycost is absent — a 10%
    retail-price proxy keeps the profit-expression structure).

    Scale: the LIKE-filtered part broadcasts; profit is a single-pass
    conditional expression inside partial aggregation.
    """
    li = T(spark, sf_dir, "lineitem")
    pa = F.broadcast(T(spark, sf_dir, "part").where(F.col("p_name").like("%widget%")))
    su = F.broadcast(T(spark, sf_dir, "supplier"))
    na = F.broadcast(T(spark, sf_dir, "nation"))
    od = T(spark, sf_dir, "orders")
    profit = _revenue() - F.col("p_retailprice") * F.col("l_quantity") * 0.1
    return (
        li.join(pa, F.col("l_partkey") == pa.p_partkey)
        .join(su, F.col("l_suppkey") == su.s_suppkey)
        .join(od, F.col("l_orderkey") == od.o_orderkey)
        .join(na, su.s_nationkey == na.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit) + 1e-4, 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "tpch_q11",
    tags=("aggregate", "subquery", "having"),
    oracle="""
WITH val AS (
  SELECT s_nationkey, l_partkey,
         sum(l_extendedprice * l_quantity) AS part_value
  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
  GROUP BY s_nationkey, l_partkey)
SELECT l_partkey AS p_key, round(part_value, 2) AS part_value
FROM val
WHERE s_nationkey = 3
  AND part_value > (SELECT avg(part_value) * 2 FROM val WHERE s_nationkey = 3)
ORDER BY part_value DESC, p_key
LIMIT 200
""",
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (Q11 shape): per-part value vs a
    global scalar subquery within one nation. The classic sum*fraction
    threshold empties out as part count grows (each share shrinks with
    scale), so the cut is 2x the average part value — scale-invariant.

    Scale: the scalar total is a one-row broadcast over the already-
    aggregated per-part values — no second pass over lineitem.
    """
    li = T(spark, sf_dir, "lineitem")
    su = F.broadcast(T(spark, sf_dir, "supplier"))
    val = (
        li.join(su, F.col("l_suppkey") == su.s_suppkey)
        .where(F.col("s_nationkey") == 3)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("part_value"))
    )
    total = val.agg((F.avg("part_value") * 2).alias("threshold"))
    return (
        val.crossJoin(F.broadcast(total))
        .where(F.col("part_value") > F.col("threshold"))
        .select(F.col("l_partkey").alias("p_key"), money(F.col("part_value")).alias("part_value"))
        .orderBy(F.desc("part_value"), "p_key")
        .limit(200)
    )


@register(
    "tpch_q16",
    tags=("join", "anti", "count-distinct"),
    oracle="""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#3' AND p_size IN (1, 2, 3, 4, 5)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 200
""",
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-supplier relationship count (Q16 shape; lineitem is the
    part-supplier bridge, the complaints filter becomes negative-balance
    suppliers): NOT IN -> anti join + count distinct.
    """
    li = T(spark, sf_dir, "lineitem")
    pa = F.broadcast(
        T(spark, sf_dir, "part").where(
            (F.col("p_brand") != "Brand#3") & (F.col("p_size").isin(1, 2, 3, 4, 5))
        )
    )
    bad = T(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(pa, F.col("l_partkey") == pa.p_partkey)
        .join(bad, F.col("l_suppkey") == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(200)
    )


@register(
    "tpch_q20",
    tags=("join", "semi", "subquery", "correlated"),
    oracle="""
WITH shipped AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey),
 heavy AS (
  SELECT DISTINCT l_suppkey FROM shipped
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%widget%'
    AND qty > (SELECT avg(qty) * 0.5 FROM shipped))
SELECT s_name, round(s_acctbal, 2) AS acctbal
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
ORDER BY s_name
""",
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential part promotion (Q20 shape): nested IN chains — suppliers
    who shipped above-average quantities of matching parts in a year
    (partsupp availability becomes shipped quantity).

    Plan notes (r14): ``shipped`` feeds both the global-average cutoff
    and the heavy-supplier probe; column pruning gives each branch its
    own exchange, so the lineitem scan + (suppkey, partkey) aggregation
    used to execute twice per run. The aggregate is materialized once
    (RDD-keyed per invocation) and the 1-row cutoff folds into a
    literal via a bounded collect (guide §7.2 / §5)."""
    li = T(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts("1996-01-01")) & (F.col("l_shipdate") < ts("1997-01-01"))
    )
    pa = F.broadcast(T(spark, sf_dir, "part").where(F.col("p_name").like("%widget%")))
    su = T(spark, sf_dir, "supplier")
    # reuse: shipped is collected for the cutoff, then probed for heavy
    shipped = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .localCheckpoint()
    )
    # bounded driver collect: one row, the global average cutoff
    cut = shipped.agg((F.avg("qty") * 0.5).alias("cut")).collect()[0]["cut"]
    heavy = (
        shipped.join(pa, F.col("l_partkey") == pa.p_partkey)
        .where(F.col("qty") > F.lit(cut).cast("double"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        su.join(heavy, su.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", money(F.col("s_acctbal")).alias("acctbal"))
        .orderBy("s_name")
    )
