"""Semantic tests for the vector-pipeline operators (beyond the oracle
sweep in test_queries.py): Lloyd monotonicity, assignment-kernel
equivalence to a numpy brute force, and quantization invariants."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

import pyblazing_spark.plans as plans
from pyblazing_spark.operators.similarity import (
    centroid_assign_with_dist,
    kmeans_lloyd,
)
from pyblazing_spark.sources.tables import load_table


def test_lloyd_inertia_is_non_increasing(spark, sf_dir):
    """Lloyd's algorithm monotonically decreases inertia; the 3dp
    rounding inside the kernel can add at most 5e-4 per point per
    round."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    # The loop truncates every fourth round: round 4 localCheckpoints
    # (lineage truncation on the path), round 5 persists — so the
    # returned handle's storage level is observable below.
    assigned, C, history = kmeans_lloyd(emb, k=8, iterations=5)
    assert len(history) == 5
    slack = 1e-3 * n
    for a, b in zip(history, history[1:]):
        assert b <= a + slack, f"inertia increased: {history}"
    assert C.shape == (8, 64)
    # every vector assigned exactly once, clusters in range
    rows = assigned.groupBy().agg(
        F.count("id").alias("n"), F.min("cluster").alias("lo"), F.max("cluster").alias("hi")
    ).collect()[0]
    assert rows["n"] == n and 0 <= rows["lo"] and rows["hi"] < 8
    # the handle returned IS the persisted DataFrame — unpersist must
    # actually release it (a derived select would be a silent no-op)
    assert assigned.storageLevel.useMemory or assigned.rdd.is_checkpointed
    assigned.unpersist()
    assert not assigned.storageLevel.useMemory


def test_kmeans_has_no_phantom_clusters(spark, sf_dir):
    """With k=8 but only 3 vectors (init clusters 0..2), no vector may
    land in clusters 3..7: empty clusters must not contribute fabricated
    zero-vector centroids to the candidate set (the DuckDB oracle has no
    row for them either)."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 3)
    assigned, C, _ = kmeans_lloyd(emb, k=8, iterations=2)
    assert C.shape[0] <= 3
    assert assigned.agg(F.max("cluster")).collect()[0][0] <= 2
    assigned.unpersist()


def test_assign_kernel_matches_numpy_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    pdf = emb.toPandas()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    rng = np.random.RandomState(7)
    C = rng.standard_normal((5, V.shape[1]))
    d = np.round(((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 3)
    expect_cluster = d.argmin(axis=1)
    expect_d2 = d[np.arange(len(V)), expect_cluster]

    out = (
        emb.select("vec_id", centroid_assign_with_dist(F.col("embedding"), C).alias("a"))
        .select("vec_id", "a.cluster", "a.d2")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    order = pdf["vec_id"].argsort().to_numpy()
    np.testing.assert_array_equal(out["cluster"].to_numpy(), expect_cluster[order])
    np.testing.assert_allclose(out["d2"].to_numpy(), expect_d2[order], atol=2e-3)


def test_quantize_codes_reconstruct_within_step(spark, sf_dir):
    """Every reconstruction error must be bounded by half a quantization
    step of that dimension's range — the defining invariant of round-to-
    nearest scalar quantization (rmse per vector << max step / 2)."""
    df = plans.REGISTRY["vector_quantize"].fn(spark, sf_dir).toPandas()
    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    V = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    max_step = (V.max(axis=0) - V.min(axis=0)).max() / 255
    assert (df["rmse"] <= max_step / 2 + 1e-9).all()
    assert (df["n_dims"] == V.shape[1]).all()
    assert df["code_sum"].between(0, 255 * V.shape[1]).all()


def test_semdedup_exhaustive_bucketed_equals_brute(spark, sf_dir):
    """dedup_semantic_exhaustive's recall claim: on the planted-copy
    corpus at tau=0.9, every qualifying cosine pair is within one
    k-means cluster, so the bucketed pair set (and hence the greedy
    drop set) EQUALS brute-force all-pairs — the ann_lsh
    provably-exhaustive pattern."""
    from pyspark.sql import functions as F

    from pyblazing_spark.functions import vectors as VEC
    from pyblazing_spark.operators.similarity import (
        centroid_assign_with_dist,
        centroid_means,
    )
    from pyblazing_spark.plans.vectors import _K, _SEM_OFF, _SEM_TAU
    from pyblazing_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.unionAll(
        emb.where(F.col("vec_id") % 16 == 0).select(
            (F.col("vec_id") + _SEM_OFF).alias("vec_id"), "embedding"
        )
    ).unionAll(
        emb.where(F.col("vec_id") % 48 == 0).select(
            (F.col("vec_id") + 2 * _SEM_OFF).alias("vec_id"), "embedding"
        )
    )
    init = corpus.select(
        "vec_id", "embedding", (F.col("vec_id") % _K).cast("int").alias("c0")
    )
    ids, C = centroid_means(init, "embedding", "c0")
    a = centroid_assign_with_dist(F.col("embedding"), C, cluster_ids=ids)
    assigned = (
        init.select("vec_id", "embedding", a.alias("a"))
        .select("vec_id", "embedding", F.col("a.cluster").alias("cluster"))
        .localCheckpoint(eager=True)
    )

    def pair_set(cond):
        pa, pb = assigned.alias("a"), assigned.alias("b")
        return {
            (r["id_a"], r["id_b"])
            for r in pa.join(pb, cond & (F.col("a.vec_id") < F.col("b.vec_id")))
            .withColumn(
                "cos", VEC.cosine_udf(F.col("a.embedding"), F.col("b.embedding"))
            )
            .where(F.col("cos") >= _SEM_TAU)
            .select(
                F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
            )
            .collect()
        }

    bucketed = pair_set(F.col("a.cluster") == F.col("b.cluster"))
    brute = pair_set(F.lit(True))
    assert bucketed == brute and len(brute) > 0
    # planted structure: every pair links a base to one of its copies
    for id_a, id_b in brute:
        assert id_b % _SEM_OFF == id_a % _SEM_OFF
