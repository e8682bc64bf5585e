"""Benchmark decontamination for LLM training data.

A standard pretraining-pipeline step with no reference equivalent (the
reference is a pure SQL engine): drop training documents that share
enough n-gram overlap with an evaluation/benchmark set, so the model
isn't graded on memorized training text.

Spark-first shape: explode k-token shingle windows on BOTH sides, hash
each window to a long (same explode+scalar-hash pattern as MinHash —
see :func:`pyblazing_spark.operators.dedup._hashed_shingle_rows` for
why arrays/HOFs are avoided), then a ``left_semi`` join on the hash
flags contaminated ids. Only (id, hash64) pairs ever shuffle — never
text — and the benchmark side is typically small enough that Spark
broadcasts it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyblazing_spark.operators.dedup import _hashed_shingle_rows


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """ids of corpus docs sharing >= ``min_hits`` distinct k-token
    shingles with the benchmark set."""
    c = _hashed_shingle_rows(corpus, text_col, id_col, shingle_words).distinct()
    b = (
        _hashed_shingle_rows(benchmark, text_col, id_col, shingle_words)
        .select("__h")
        .distinct()
    )
    if min_hits <= 1:
        return c.join(b, "__h", "left_semi").select(id_col).distinct()
    return (
        c.join(b, "__h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__hits"))
        .where(F.col("__hits") >= min_hits)
        .select(id_col)
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 5,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-corpus-doc contamination accounting: distinct shingle count,
    how many of those shingles appear anywhere in the benchmark set, and
    the contaminated fraction — the graded report (Dolma/RedPajama-style)
    behind the binary keep/drop of :func:`contaminated_ids`, for picking
    a drop threshold instead of hard-coding min_hits.

    Scale shape: ONE pass over the corpus shingles — each distinct
    (id, hash64) row is tagged by a left join against the benchmark's
    distinct hash set (broadcast-sized; DISTINCT benchmark hashes mean
    no row multiplication), then a single groupBy counts rows and tags
    together. Only (id, hash64, flag) longs ever shuffle; no second
    shingle pass, no exchange-reuse dependence.

    ``broadcast_benchmark=False`` drops the broadcast hint for callers
    whose held-out set is too large to broadcast (8 GB hint ceiling) —
    AQE then picks broadcast vs shuffle from the measured size, exactly
    as :func:`contaminated_ids` does."""
    c = _hashed_shingle_rows(corpus, text_col, id_col, shingle_words).distinct()
    b = (
        _hashed_shingle_rows(benchmark, text_col, id_col, shingle_words)
        .select("__h")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    if broadcast_benchmark:
        b = F.broadcast(b)
    return (
        c.join(b, "__h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_hits"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_hits",
            F.round(
                F.col("n_hits") / F.col("n_shingles") + F.lit(1e-9), 4
            ).alias("frac"),
        )
    )
