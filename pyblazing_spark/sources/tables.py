"""Loaders for the driver's synthetic TPC-H-ish tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an ``sf_dir``.

Scan strategy notes (100 TB stance): plain ``spark.read.parquet`` gives
Catalyst predicate pushdown, column pruning, and partition discovery for
free — the reference needed a whole skip-data subsystem for the same effect
(``engine/src/skip_data/SkipDataProcessor.cpp:49-120``). We deliberately do
NOT eagerly cache or collect data: every loader returns a lazy DataFrame so
the optimizer sees the full plan. Only each file's inferred SCHEMA is
cached (:func:`_read_parquet`): inference is a one-task Spark job per
read, and a loader call should launch no job at all.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyblazing_spark.session import ensure_runtime_confs

#: All tables the driver materializes (TESTDATA.md).
TABLES: tuple[str, ...] = (
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

#: Small dimension tables that should always be broadcast in joins.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier"})


#: Confs that change what parquet schema inference returns; their values
#: are part of the schema-cache key.
_INFERENCE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

#: (absolute path, st_mtime_ns, st_size, inference conf values) ->
#: inferred schema. A rewritten file changes mtime or size and so
#: misses; entries are a few hundred bytes, one per file version read.
_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job on
    repeat reads of an unchanged regular file: the first read infers,
    later ones pass the cached schema. Directories (and paths the local
    filesystem cannot stat) take the plain read, since their part files
    can change without the directory's own size or mtime moving."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        st.st_mtime_ns,
        st.st_size,
        tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a lazy DataFrame.

    ``events.ts`` is physically TIMESTAMP(NANOS) parquet, which Spark reads
    (under ``spark.sql.legacy.parquet.nanosAsLong``) as int64 nanoseconds;
    we convert to TIMESTAMP_NTZ microseconds — the same ns->us truncation
    DuckDB applies, so oracle comparisons line up exactly.
    """
    ensure_runtime_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Integer `div`, NOT floor(x/1000): ns epoch values (~1.7e18)
        # exceed double's 2^53 integer range, so float division is off
        # by up to a few microseconds.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register each table as a temp view (for the SQL entry points)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
