"""Avro monolith split probe (VERDICT r10 #4): the case the split
source exists for — ONE multi-GB ``.avro`` container handed to the
engine. A file-per-task reader gives it one task; ``read_avro_split``
must fan it out into byte-range tasks that keep every core busy, read
it exactly, and survive the r11 buffer-export/clamp fixes at real
block sizes.

What it does:
1. builds one monolithic container (coalesce(1), null codec) from K
   replicas of sf0.1 lineitem (key-offset scheme from scale_probe);
2. reads it back with the default 32 MiB split size and asserts
   >= min(cores, file_size/split) input partitions FROM THE ONE FILE;
3. value-checks count + three column checksums against the parquet
   source (exact, engine-side — no driver collect of data rows);
4. times the scan and prints bytes/s.

Usage: python scripts/avro_monolith_probe.py [K replicas, default 8]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pyblazing_spark.session import get_spark

O_OFF = 100_000_000


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    spark = get_spark(app_name="avro_monolith_probe")
    spark.sparkContext.setLogLevel("ERROR")
    from pyblazing_spark.sources.avro_files import write_avro
    from pyblazing_spark.sources.avro_split_ds import read_avro_split

    base = tempfile.mkdtemp(prefix="avro_monolith_")
    try:
        # a 400-byte pad column fattens rows to container scale (the
        # numeric columns alone varint-pack to ~30 B/row); deterministic
        # per row so the checksum compare still pins content
        src = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_returnflag",
            F.rpad(
                F.concat_ws("-", "l_orderkey", "l_partkey", "l_returnflag"),
                400, "x",
            ).alias("pad"),
        )
        reps = src
        for i in range(1, k):
            reps = reps.unionAll(
                src.withColumn("l_orderkey", F.col("l_orderkey") + i * O_OFF)
            )
        reps = reps.coalesce(1)
        t0 = time.time()
        n = write_avro(reps, base, codec="null")
        files = [f for f in os.listdir(base) if f.endswith(".avro")]
        assert len(files) == 1, files
        mono = os.path.join(base, files[0])
        size = os.path.getsize(mono)
        print(
            f"monolith: {n:,} rows, {size/2**30:.2f} GiB in ONE container "
            f"({time.time()-t0:.1f}s write)"
        )

        t0 = time.time()
        back = read_avro_split(spark, mono)
        parts = back.rdd.getNumPartitions()
        want = min(spark.sparkContext.defaultParallelism, size // (32 << 20))
        agg = back.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").alias("s_ok"),
            F.sum("l_quantity").alias("s_q"),
            F.sum(F.xxhash64("l_returnflag", "l_partkey", "pad").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        dt = time.time() - t0
        exp = reps.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").alias("s_ok"),
            F.sum("l_quantity").alias("s_q"),
            F.sum(F.xxhash64("l_returnflag", "l_partkey", "pad").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        exact = tuple(agg) == tuple(exp)
        print(
            f"split scan: {parts} partitions from one file "
            f"(need >= {want}), {dt:.1f}s = {size/dt/2**20:.0f} MiB/s, "
            f"exact={exact}"
        )
        if parts < want or not exact:
            print("FAIL")
            return 1
        print("OK")
        return 0
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
