"""Verbatim-shape reference TPC-H queries over a derived ``partsupp``.

The reference's own E2E suite runs TPC-H Q2/Q9/Q11/Q16/Q20 against a
real partsupp table
(``/root/reference/tests/BlazingSQLTest/EndToEndTests/TestSuites/TPCHSuite.yaml``
TEST_02/TEST_09/TEST_16 live, TEST_11/TEST_20 in-suite but commented
for Drill validation issues). TESTDATA ships no partsupp (FIXTURES.md), so these
entries derive one deterministically — 4 supplier slots per part, the
same derivation ``scripts/reference_replay.py`` already proves identical
in Spark and DuckDB — and then run the REFERENCE'S EXACT QUERY SHAPE
over it: same joins, same correlated subqueries, same ORDER BY/LIMIT.

Two documented deviations from the yaml text, both forced by the
synthetic fixture domain (FIXTURES.md):

- literals are mapped into the fixture's value domain (nations are
  ``NATION_<k>`` not GERMANY/CANADA; part types carry no BRASS; part
  names no ``forest%``) — predicates keep their exact structure and
  stay selective-but-nonempty at sf0.01;
- Q11's ``valuep`` gets the repo-standard outer ``round(x + 1e-4, 2)``
  wrapper ON BOTH SIDES (driver contract: float aggregate hashes), and
  Q20's correlated ``0.5 * sum`` factor becomes ``0.05`` because the
  synthetic lineitem/partsupp pairing is sparser than real TPC-H
  (0.5 leaves zero qualifying suppliers at sf0.01).

The augmented supplier/part columns the queries need (s_comment,
s_address, s_phone, p_mfgr — trimmed from the parquet fixtures) are
derived from ONE list of SQL expression strings evaluated verbatim by
both engines, so the two sides cannot drift.

Scale shape: partsupp is 4x part (a dimension-sized derive, never
fact-scale); every dim joins broadcast; Q11/Q16/Q20 aggregate partial
before their key shuffles; Q2's per-part min is a groupBy + equi-join,
not a per-row correlated rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyblazing_spark.plans.registry import register
from pyblazing_spark.sources.tables import load_table as T

#: Augmented columns (shared verbatim: Spark selectExpr AND DuckDB CTE).
#: Mirrors scripts/reference_replay.py AUGMENTS — the corpus-replay-proven
#: derivations for the columns FIXTURES.md trims.
_SUPPLIER_AUG = (
    "CASE WHEN s_suppkey % 10 = 0"
    " THEN concat('Customer Complaints ', CAST(s_suppkey AS STRING))"
    " ELSE concat('supplier note ', CAST(s_suppkey AS STRING)) END AS s_comment",
    "concat('Supplier Address #', CAST(s_suppkey AS STRING)) AS s_address",
    "concat(CAST(10 + s_nationkey AS STRING), '-',"
    " lpad(CAST((s_suppkey * 7) % 1000 AS STRING), 3, '0'), '-',"
    " lpad(CAST((s_suppkey * 13) % 1000 AS STRING), 3, '0'), '-',"
    " lpad(CAST((s_suppkey * 31) % 10000 AS STRING), 4, '0')) AS s_phone",
)
_PART_AUG = (
    "concat('Manufacturer#', CAST(1 + p_partkey % 5 AS STRING)) AS p_mfgr",
)

#: partsupp columns as shared SQL over (p_partkey, slot i, supplier count
#: nsupp). Same derivation as reference_replay.PARTSUPP_SQL: 4 slots per
#: part, every ps_suppkey lands on a real (0-based dense) supplier key,
#: ps_supplycost is integer-derived double division (bit-identical IEEE
#: in both engines — no rounding step to disagree on).
_PS_COLS = (
    "p_partkey AS ps_partkey",
    "CAST((p_partkey + i * 257) % {nsupp} AS BIGINT) AS ps_suppkey",
    "CAST((p_partkey * 7 + i * 13) % 9999 + 1 AS INT) AS ps_availqty",
    "CAST((p_partkey * 31 + i * 7) % 100000 AS DOUBLE) / 100.0 AS ps_supplycost",
    "concat('ps note ', CAST(p_partkey AS STRING), '-', CAST(i AS STRING))"
    " AS ps_comment",
)

#: Oracle prelude: CTEs named exactly like the base tables (DuckDB
#: resolves the shadowed base views via the explicit main. schema), so
#: the reference query text below each entry runs against the augmented
#: tables without edits.
_ORACLE_PRELUDE = f"""WITH supplier AS (
  SELECT *, {", ".join(e for e in _SUPPLIER_AUG)}
  FROM main.supplier),
 part AS (
  SELECT *, {", ".join(e for e in _PART_AUG)}
  FROM main.part),
 partsupp AS (
  SELECT {", ".join(c.format(nsupp="(SELECT count(*) FROM supplier)") for c in _PS_COLS)}
  FROM part, (VALUES (0), (1), (2), (3)) AS t(i))
"""


def supplier_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier + the comment/address/phone columns the fixtures trim."""
    return T(spark, sf_dir, "supplier").selectExpr("*", *_SUPPLIER_AUG)


def part_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part + p_mfgr."""
    return T(spark, sf_dir, "part").selectExpr("*", *_PART_AUG)


def load_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp, DataFrame-native: part x 4 slots with the shared
    column expressions. The supplier count arrives via a broadcast 1-row
    cross join (never a collect in the plan-build path)."""
    nsupp = T(spark, sf_dir, "supplier").agg(
        F.count(F.lit(1)).alias("__nsupp")
    )
    return (
        T(spark, sf_dir, "part")
        .select("p_partkey")
        .crossJoin(F.broadcast(nsupp))
        .select(
            "p_partkey",
            "__nsupp",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
        )
        .selectExpr(*[c.format(nsupp="__nsupp") for c in _PS_COLS])
    )


@register(
    "tpch_q2_ps",
    tags=("tpch", "partsupp", "join", "nested", "correlated"),
    oracle=_ORACLE_PRELUDE
    + """
select
        s.s_acctbal,
        s.s_name,
        n.n_name,
        p.p_partkey,
        p.p_mfgr,
        s.s_address,
        s.s_phone,
        s.s_comment
    from
        supplier as s
        inner join nation as n on s.s_nationkey = n.n_nationkey
        inner join partsupp as ps on s.s_suppkey = ps.ps_suppkey
        inner join part as p on p.p_partkey = ps.ps_partkey
        inner join region as r on r.r_regionkey = n.n_regionkey
    where
        p.p_size = 12
        and p.p_type like '%A%'
        and r.r_name = 'EUROPE'
        and ps.ps_supplycost = (
            select
                min(psq.ps_supplycost)
            from
                partsupp as psq
                inner join supplier sq on
                    sq.s_suppkey = psq.ps_suppkey
                inner join nation as nq on
                    sq.s_nationkey = nq.n_nationkey
                inner join region as rq on
                    nq.n_regionkey = rq.r_regionkey
            where
                p.p_partkey = psq.ps_partkey
                and rq.r_name = 'EUROPE'
            )
    order by
        s.s_acctbal desc,
        n.n_name,
        s.s_name,
        p.p_partkey
    limit 100
""",
)
def tpch_q2_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference TPCHSuite TEST_02 verbatim over derived partsupp
    (literal map: BRASS -> '%A%', size 15 -> 12 so the EUROPE min-cost
    filter stays non-empty down to sf0.001; EUROPE exists as-is). The correlated
    min-cost subquery becomes a per-part min aggregate equi-joined back
    — Catalyst's own decorrelation shape, written explicitly.

    Scale: supplier/nation/region broadcast; the per-part min and the
    final probe co-shuffle on ps_partkey only.

    Plan notes (r14): the outer query keeps only parts passing the
    size/type filter, and the correlated min is PER PART — so the
    filter is pushed below the min aggregation (survivors' best_cost
    is untouched; non-matching parts can never reach the output), and
    the filtered EUROPE partsupp frame, referenced by both the min
    branch and the probe branch, is materialized once instead of
    re-deriving partsupp per branch (22 scans -> bounded; guide §2.3 /
    §7.2)."""
    nat = F.broadcast(T(spark, sf_dir, "nation"))
    reg = F.broadcast(
        T(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    )
    sup = supplier_aug(spark, sf_dir)
    eu_sup = F.broadcast(
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name", "s_address",
                "s_phone", "s_comment")
    )
    pa = F.broadcast(
        part_aug(spark, sf_dir).where(
            (F.col("p_size") == 12) & F.col("p_type").like("%A%")
        )
    )
    ps = load_partsupp(spark, sf_dir)
    # reuse: eu_ps feeds both the per-part min and the probe
    eu_ps = (
        ps.join(pa.select("p_partkey", "p_mfgr"),
                ps.ps_partkey == F.col("p_partkey"))
        .join(eu_sup, ps.ps_suppkey == eu_sup.s_suppkey)
        .localCheckpoint()
    )
    best = eu_ps.groupBy(F.col("ps_partkey").alias("bp_key")).agg(
        F.min("ps_supplycost").alias("best_cost")
    )
    return (
        eu_ps.join(
            best,
            (F.col("bp_key") == F.col("ps_partkey"))
            & (F.col("ps_supplycost") == F.col("best_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_mfgr",
                "s_address", "s_phone", "s_comment")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "tpch_q11_ps",
    tags=("tpch", "partsupp", "aggregate", "having", "nested"),
    oracle=_ORACLE_PRELUDE
    + """
select ps_partkey, round(valuep + 1e-4, 2) AS valuep FROM (
select
          ps_partkey,
          sum(ps_supplycost * ps_availqty) as valuep
      from
          partsupp,
          supplier,
          nation
      where
          ps_suppkey = s_suppkey
          and s_nationkey = n_nationkey
          and n_name = 'NATION_3'
      group by
          ps_partkey having
              sum(ps_supplycost * ps_availqty) > (
                  select
                      sum(ps_supplycost * ps_availqty) * 0.0001
                  from
                      partsupp,
                      supplier,
                      nation
                  where
                      ps_suppkey = s_suppkey
                      and s_nationkey = n_nationkey
                      and n_name = 'NATION_3'
              )
) order by
          valuep desc
""",
)
def tpch_q11_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference TPCHSuite TEST_11 verbatim over derived partsupp
    (literal map: GERMANY -> NATION_3, a nation with suppliers at
    every fixture SF; outer 2-dp rounding wrapper on
    both sides per the driver float-hash contract — the HAVING itself
    compares the UNROUNDED sums, exactly as the reference query does).

    Scale: the nation-filtered supplier key set broadcasts; partsupp
    aggregates partially before the single ps_partkey shuffle; the
    0.01% threshold is a broadcast 1-row cross join, not a collect."""
    nat = F.broadcast(
        T(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    )
    sup = T(spark, sf_dir, "supplier")
    keys = F.broadcast(
        sup.join(nat, sup.s_nationkey == nat.n_nationkey).select("s_suppkey")
    )
    ps = load_partsupp(spark, sf_dir)
    psn = ps.join(keys, ps.ps_suppkey == keys.s_suppkey).select(
        "ps_partkey", (F.col("ps_supplycost") * F.col("ps_availqty")).alias("__v")
    )
    grouped = psn.groupBy("ps_partkey").agg(F.sum("__v").alias("valuep"))
    thresh = psn.agg((F.sum("__v") * 0.0001).alias("__thresh"))
    return (
        grouped.crossJoin(F.broadcast(thresh))
        .where(F.col("valuep") > F.col("__thresh"))
        .select(
            "ps_partkey", F.round(F.col("valuep") + 1e-4, 2).alias("valuep")
        )
        .orderBy(F.desc("valuep"))
    )


@register(
    "tpch_q16_ps",
    tags=("tpch", "partsupp", "aggregate", "count_distinct", "anti"),
    oracle=_ORACLE_PRELUDE
    + """
select
          p.p_brand,
          p.p_type,
          p.p_size,
          CAST(count(distinct ps.ps_suppkey) AS BIGINT) as supplier_cnt
      from
          partsupp ps
          inner join part p on p.p_partkey = ps.ps_partkey
      where
          p.p_brand <> 'Brand#13'
          and p.p_type not like 'MEDIUM%'
          and p.p_size in (49, 14, 23, 45, 19, 3, 36, 9)
          and ps.ps_suppkey not in (
              select
                  s_suppkey
              from
                  supplier
              where
                  s_comment like '%Customer%Complaints%'
          )
      group by
          p.p_brand,
          p.p_type,
          p.p_size
      order by
          supplier_cnt desc,
          p.p_brand,
          p.p_type,
          p.p_size
""",
)
def tpch_q16_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference TPCHSuite TEST_16 verbatim over derived partsupp
    (literal map: Brand#45 -> Brand#13, 'MEDIUM POLISHED%' -> 'MEDIUM%';
    the complaint-supplier NOT IN keys on the derived s_comment, which
    plants '%Customer%Complaints%' on every 10th supplier exactly like
    the replay fixtures). NOT IN compiles to a broadcast anti-join —
    legal because s_suppkey is never NULL.

    Scale: the complaint set broadcasts; count(distinct) runs Catalyst's
    two-phase distinct-aggregate expansion on the (brand,type,size)
    shuffle."""
    bad = F.broadcast(
        supplier_aug(spark, sf_dir)
        .where(F.col("s_comment").like("%Customer%Complaints%"))
        .select(F.col("s_suppkey").alias("__bad_key"))
    )
    pa = F.broadcast(
        part_aug(spark, sf_dir).where(
            (F.col("p_brand") != "Brand#13")
            & ~F.col("p_type").like("MEDIUM%")
            & F.col("p_size").isin(49, 14, 23, 45, 19, 3, 36, 9)
        )
    )
    ps = load_partsupp(spark, sf_dir)
    return (
        ps.join(bad, ps.ps_suppkey == F.col("__bad_key"), "left_anti")
        .join(pa, F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q20_ps",
    tags=("tpch", "partsupp", "semi", "nested", "correlated", "datetime"),
    oracle=_ORACLE_PRELUDE
    + """
select
          s.s_name,
          s.s_address
      from
          supplier s
          inner join nation n
          on s.s_nationkey = n.n_nationkey
      where
          s.s_suppkey in (
              select
                  ps_suppkey
              from
                  partsupp
              where
                  ps_partkey in (
                      select
                          p_partkey
                      from
                          part
                      where
                          p_name like 'small%'
                  )
              and ps_availqty > (
                  select
                      0.05 * sum(l_quantity)
                  from
                      lineitem
                  where
                      l_partkey = ps_partkey
                      and l_suppkey = ps_suppkey
                      and l_shipdate >= date '1996-01-01'
                      and l_shipdate <
                          date '1996-01-01' + interval '1' year
              )
          )
          and n.n_name = 'NATION_19'
      order by
          s.s_name
""",
)
def tpch_q20_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference TPCHSuite TEST_20 verbatim over derived partsupp
    (literal map: forest% -> small%, CANADA -> NATION_19, 1994 -> 1996
    to land inside the fixture's shipdate range, and the 0.5 qty factor
    -> 0.05 because the synthetic lineitem hits partsupp pairs ~25x more
    sparsely than real TPC-H). The nested IN chain becomes semi-joins;
    the correlated per-pair qty sum is a groupBy equi-joined back, so
    pairs with no in-window sales drop out exactly as the SQL's
    NULL-comparison does.

    Scale: part keys and the final supplier probe broadcast; lineitem
    aggregates partially on (partkey, suppkey) — the one fact shuffle."""
    small = F.broadcast(
        T(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select(F.col("p_partkey").alias("__pk"))
    )
    ps = load_partsupp(spark, sf_dir)
    ps_small = ps.join(small, ps.ps_partkey == F.col("__pk"), "left_semi")
    li = T(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    sales = li.groupBy("l_partkey", "l_suppkey").agg(
        (F.sum("l_quantity") * 0.05).alias("__qty_thresh")
    )
    qualified = (
        ps_small.join(
            sales,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .where(F.col("ps_availqty") > F.col("__qty_thresh"))
        .select("ps_suppkey")
    )
    nat = F.broadcast(
        T(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_19")
    )
    sup = supplier_aug(spark, sf_dir)
    return (
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(qualified, sup.s_suppkey == qualified.ps_suppkey, "left_semi")
        .select("s_name", "s_address")
        .orderBy("s_name")
    )


@register(
    "tpch_q9_ps",
    tags=("tpch", "partsupp", "join", "aggregate", "datetime"),
    oracle=_ORACLE_PRELUDE
    + """
select nationl, o_year, round(sum_profit + 1e-4, 2) AS sum_profit FROM (
select
          nationl,
          o_year,
          sum(amount) as sum_profit
      from (
          select
              n.n_name as nationl,
              CAST(extract(year from o.o_orderdate) AS INTEGER) as o_year,
              l.l_extendedprice * (1 - l.l_discount) -
                  ps.ps_supplycost * l.l_quantity as amount
          from
              lineitem as l
              inner join orders as o
                  on o.o_orderkey = l.l_orderkey
              inner join partsupp as ps
                  on ps.ps_suppkey = l.l_suppkey
              inner join part as p
                  on p.p_partkey = l.l_partkey
              inner join supplier as s
                  on s.s_suppkey = l.l_suppkey
              inner join nation as n
                  on n.n_nationkey = s.s_nationkey
          where
              l.l_partkey = ps.ps_partkey
              and p.p_name like '%red%'
          ) as profit
      group by
          nationl,
          o_year
) order by
          nationl,
          o_year desc
""",
)
def tpch_q9_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference TPCHSuite TEST_09 verbatim over derived partsupp
    (literal map: green -> red; CAST on extract(year) aligns the INT
    dtype; repo-standard outer 2-dp rounding wrapper on the profit sum,
    both sides). Completes the reference's live partsupp queries
    (TEST_02 / TEST_09 / TEST_16) plus the commented TEST_11 / TEST_20.

    Scale: part/supplier/nation broadcast; the one fact-fact shuffle is
    lineitem x orders on orderkey; the lineitem x partsupp pair join
    keys on (suppkey, partkey) — partsupp is 4x part, dimension-sized,
    so it broadcasts too. The profit aggregate partials map-side."""
    li = T(spark, sf_dir, "lineitem")
    od = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ps = F.broadcast(load_partsupp(spark, sf_dir))
    pa = F.broadcast(
        T(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    sup = F.broadcast(
        T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    nat = F.broadcast(T(spark, sf_dir, "nation"))
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(
            ps,
            (F.col("ps_suppkey") == li.l_suppkey)
            & (F.col("ps_partkey") == li.l_partkey),
        )
        .join(pa, F.col("p_partkey") == li.l_partkey)
        .join(sup, F.col("s_suppkey") == li.l_suppkey)
        .join(nat, F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            F.col("n_name").alias("nationl"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nationl", "o_year")
        .agg(F.round(F.sum("amount") + 1e-4, 2).alias("sum_profit"))
        .orderBy("nationl", F.desc("o_year"))
    )
