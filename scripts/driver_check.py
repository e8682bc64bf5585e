"""Driver-style verification: plain SparkSession + side-by-side DuckDB
compare of every queries()/oracle_sql() entry at a given SF.

Usage: python scripts/driver_check.py [sf_dir] [name_prefix ...]
With name prefixes given, only matching entries run (fast iteration on
new entries). A prefix of the form ``--head=N`` instead runs the FIRST
N entries of queries() iteration order — exactly the slice the per-round
driver samples under the coverage rotation (plans/registry.py).
Mirrors the correctness gate (CORRECTNESS_r{N}.json): row
count, column names, order-insensitive value compare.

The session is deliberately PLAIN (not ``session.get_spark``): the
correctness driver builds its own, so the engine must work without our
build-time confs (among them the 4096-class generated-code cache: here
Spark's 100 applies, and entry timings include recompiles). Only its
core count follows the host.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from pyblazing_spark.session import host_cores
from tests.oracle_utils import assert_frames_match, oracle_connection


def check_entry(spark, con, name: str, fn, data_dir: str,
                oracle: str | None) -> float | None:
    """Run one catalog entry at ``data_dir`` and compare it with its
    DuckDB ``oracle`` SQL (rows only when there is none); print one
    OK / rows-only / FAIL line. Returns the Spark-side seconds, or None
    when the entry failed."""
    t0 = time.time()
    try:
        spdf = fn(spark, data_dir).toPandas()
        dt = time.time() - t0
        verdict = "rows-only"
        if oracle is not None:
            assert_frames_match(spdf, con.execute(oracle).df(), name=name)
            verdict = "OK"
        print(f"  {name:28s} {verdict} rows={len(spdf)} ({dt:.1f}s)")
        return dt
    except Exception as exc:
        print(f"  {name:28s} FAIL: {str(exc).splitlines()[0][:150]}")
        return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefixes = tuple(sys.argv[2:])
    cores = host_cores()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    con = oracle_connection(sf_dir)
    qs, osql = E.queries(), E.oracle_sql()
    head = 0
    for p in prefixes:
        if p.startswith("--head="):
            head = int(p.split("=", 1)[1])
    prefixes = tuple(p for p in prefixes if not p.startswith("--head="))
    names = list(qs)[:head] if head else sorted(qs)
    n_ok = n_bad = 0
    for name in names:
        if prefixes and not name.startswith(prefixes):
            continue
        if check_entry(spark, con, name, qs[name], sf_dir, osql.get(name)) is None:
            n_bad += 1
        else:
            n_ok += 1
    print(f"{n_ok} ok, {n_bad} failed @ {sf_dir}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
