"""Concurrent-query proof (VERDICT r12 #7): the reference runs its e2e
suites with ``concurrent: true`` (TestSuites/TPCHSuite.yaml:4-7 — N
queries in flight on one context); our async surface
(``sql(return_token=True)`` + ``status``/``fetch``) was only ever
unit-tested serially. This probe drives EIGHT mixed-family queries
concurrently through ONE BlazingContext (two waves on the 4-thread
async pool), polls status, fetches out of submission order, and
value-compares every result against DuckDB.

Concurrency model being proven:

- Spark sessions are thread-safe for concurrent actions; each eager
  query runs ``spark.sql(...).toPandas()`` on a pool thread. The
  default in-JVM scheduler is FIFO at the JOB level (jobs queue by
  submission; stages of different jobs interleave across the core
  pool). For latency-isolating concurrent workloads set
  ``spark.scheduler.mode=FAIR`` + a pool file — documented, not
  required for correctness.
- The eager path's ANSI-off reference semantics are applied via
  ``session.scoped_conf``, whose scopes are shared across threads: the
  first in-flight query disables, the last restores — a plain
  set/restore would re-enable ANSI mid-flight under a sibling query.
  This probe checks that the session's ANSI value after the run equals
  its value before it.

Usage: python scripts/concurrent_probe.py [sf_dir]   (--smoke = sf0.001)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyblazing_spark.sources.tables import TABLES
from tests.oracle_utils import assert_frames_match, oracle_connection

# Eight mixed-family queries: aggregation, join+dim broadcast, window,
# string, dates, group-sets, semi-join shape, scalar math. Every
# computed column aliased identically for the DuckDB compare; 0-divide
# in q8 exercises the ANSI-off reference semantics CONCURRENTLY (the
# conf-scope race is only visible when an ANSI-sensitive query
# overlaps others).
QUERIES: dict[str, str] = {
    "agg": """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""",
    "join": """
        SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name""",
    "window": """
        SELECT o_custkey, o_orderkey,
               CAST(row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn
        FROM orders WHERE o_custkey < 20
        ORDER BY o_custkey, rn""",
    "string": """
        SELECT upper(substring(p_name, 1, 8)) AS pfx,
               CAST(count(*) AS BIGINT) AS n
        FROM part GROUP BY upper(substring(p_name, 1, 8))
        ORDER BY pfx LIMIT 50""",
    "dates": """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY year(o_orderdate) ORDER BY yr""",
    "filter": """
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(l_extendedprice) AS DOUBLE) AS rev
        FROM lineitem
        WHERE l_quantity < 24 AND l_discount BETWEEN 0.05 AND 0.07""",
    "semi": """
        SELECT CAST(count(*) AS BIGINT) AS n FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_acctbal > 5000)""",
    "ansi_div": """
        SELECT CAST(count(*) AS BIGINT) AS n,
               round(avg(81619.0 / (o_orderkey % 7)) + 1e-9, 4) AS r
        FROM orders WHERE o_orderkey % 7 <> 0""",
}


def main() -> int:
    args = [a for a in sys.argv[1:]]
    smoke = "--smoke" in args
    args = [a for a in args if a != "--smoke"]
    sf_dir = args[0] if args else (
        "/root/testdata/sf0.001" if smoke else "/root/testdata/sf0.01"
    )

    from pyblazing_spark.context import BlazingContext
    from pyblazing_spark.session import get_spark

    spark = get_spark(app_name="concurrent-probe")
    spark.sparkContext.setLogLevel("ERROR")
    bc = BlazingContext(spark)
    ansi_before = spark.conf.get("spark.sql.ansi.enabled", None)
    for t in TABLES:
        bc.create_table(t, os.path.join(sf_dir, f"{t}.parquet"))

    con = oracle_connection(sf_dir)

    # untimed warmup pass: session + per-query codegen warmup out of
    # BOTH timed leg (the first query in any session pays ~10 s —
    # CLAUDE.md probe-timing note), so serial-vs-concurrent compares
    # steady-state walls.
    for q in QUERIES.values():
        bc.fetch(bc.sql(q, return_token=True))

    t1 = time.time()
    for q in QUERIES.values():
        bc.fetch(bc.sql(q, return_token=True))
    serial = time.time() - t1

    # --- submit ALL eight at once (4-thread pool -> two real waves of
    # in-JVM concurrency), then poll + fetch in REVERSE submission order
    # so fetches interleave with still-running siblings.
    t0 = time.time()
    tokens = {name: bc.sql(q, return_token=True) for name, q in QUERIES.items()}
    results = {}
    for name in reversed(list(tokens)):
        tok = tokens[name]
        while not bc.status(tok):
            time.sleep(0.02)
        results[name] = bc.fetch(tok)
    wall = time.time() - t0

    n_ok = 0
    for name, q in QUERIES.items():
        want = con.execute(q).df()
        assert_frames_match(results[name], want, name=f"concurrent:{name}")
        print(f"  {name:10s} OK rows={len(results[name])}")
        n_ok += 1

    # post-flight invariants: ANSI restored, log rows complete
    ansi_after = spark.conf.get("spark.sql.ansi.enabled", None)
    assert ansi_after == ansi_before, f"ANSI leak: {ansi_before} -> {ansi_after}"
    status = [e.status for e in bc._log[-24:]]
    assert status.count("ok") >= 24, status
    print(
        f"concurrent 8-query wall {wall:.1f}s vs warm serial {serial:.1f}s "
        f"(speedup {serial / max(wall, 1e-9):.2f}x); ansi refcount clean "
        f"(restored to {ansi_before}); "
        f"scheduler=FIFO (set spark.scheduler.mode=FAIR + pool file for "
        f"latency isolation)"
    )
    print(f"PROBE OK {n_ok}/8 @ {sf_dir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
