"""Similarity search over embedding columns.

Two paths (BASELINE.json north-star):

- **Brute-force cosine top-k** — exact baseline. The (small, by
  contract) query set is collected to a numpy matrix and shipped in the
  kernel closure; the corpus streams through ``mapInPandas``, each Arrow
  batch scoring ALL queries with one matrix multiply and emitting only
  its per-batch top-k — so the shuffle carries k rows per (query,
  batch), never the full score matrix. A final window picks the global
  top-k. This is the standard distributed brute-force ANN shape.
- **Random-hyperplane LSH ANN** — the scale path. A fixed, seeded set
  of hyperplanes maps each vector to banded bucket ints (one numpy
  matmul per batch); bucket-equality joins prune candidates; exact
  cosine re-ranks. Recall is tunable via bits/bands (unit-tested
  against the brute-force baseline).

At 100 TB: both corpus passes are map-only projections; joins shuffle
only small ints + ids; candidate pairs alone pay the exact cosine.
An IVF variant would replace the hyperplanes with k-means centroids —
same plan shape.

Determinism: ranking orders by (cos rounded to 4 dp DESC, neighbor_id)
everywhere INCLUDING the per-batch prune, so float noise and batch
boundaries cannot flip ranks vs a single-node oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from pyblazing_spark.functions import vectors as VEC
from pyblazing_spark.session import (
    local_frame,
    loop_shuffle_confs,
    make_ckpt,
    scoped_conf,
)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine similarity.

    Result: (query_id, neighbor_id, cos, rank). ``queries`` must be small
    (it is collected to the driver and broadcast in the kernel closure —
    the reference pattern for "few probes vs huge corpus").
    """
    q_type = dict(queries.dtypes)[query_id_col]
    id_type = dict(corpus.dtypes)[id_col]
    out_schema = f"query_id {q_type}, neighbor_id {id_type}, cos double"
    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:
        return local_frame(corpus.sparkSession, [], out_schema + ", rank int")
    qids = [r[0] for r in q_rows]  # id types pass through untouched
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
            S = Cn @ Qn.T  # (batch, n_queries)
            ids = pdf[id_col].to_numpy()
            out_q, out_id, out_cos = [], [], []
            for j in range(S.shape[1]):
                s = VEC.nudge_round_np(S[:, j], 4)
                # per-batch prune by the FINAL ordering key (-cos, id) so
                # a batch-dropped candidate is dominated globally too.
                order = np.lexsort((ids, -s))[:k]
                out_q.extend([qids[j]] * len(order))
                out_id.extend(ids[order])
                out_cos.extend(s[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_id, "cos": out_cos}
            )

    # NOT spread before the kernel (r14: measured 0.54 s vs 0.79 s at
    # sf0.1) — one einsum over the fixture corpus is cheaper than the
    # spreading shuffle; at real scale the scan is already wide.
    scored = corpus.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col)
    ).mapInPandas(kernel, schema=out_schema)
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (driver-side, shipped in the UDF
    closure — a few KB)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_bits, dim))


def bucket_ints(
    vec: Column, planes: np.ndarray, bands: int
) -> Column:
    """array<int>: per-band bucket id — the band's sign-bit slice packed
    big-endian. One numpy matmul per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    n_bits = planes.shape[0]
    width = n_bits // bands
    P = planes.T  # (dim, n_bits)
    pows = 2 ** np.arange(width - 1, -1, -1)

    @pandas_udf("array<int>")
    def _buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        V = np.stack(vs.to_numpy()).astype(np.float64)
        bits = (V @ P >= 0).astype(np.int64)  # (n, n_bits)
        packed = np.stack(
            [bits[:, b * width : (b + 1) * width] @ pows for b in range(bands)], axis=1
        ).astype(np.int32)
        return pd.Series(list(packed))

    return _buckets(vec)


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_bits: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Append (band, bucket) rows: one row per band. Map-only (no
    shuffle); the numpy kernel computes all bands in one matmul."""
    planes = _hyperplanes(dim, n_bits, seed)
    return df.select(
        "*", F.posexplode(bucket_ints(F.col(vec_col), planes, bands)).alias("band", "bucket")
    )


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iterations: int = 3,
    sample_fraction: float = 0.1,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic mini k-means on a driver-side sample — builds the
    IVF coarse quantizer. At 100 TB a 0.1-1% sample (bounded by
    ``sample_fraction``) is statistically plenty for 2^4-2^12 centroids;
    the iterations run in numpy on the driver, never on the cluster."""
    sample = df.select(vec_col).sample(fraction=sample_fraction, seed=seed).limit(100_000)
    rows = sample.collect()
    if not rows:  # tiny corpus where the sample came back empty
        rows = df.select(vec_col).limit(n_centroids).collect()
    if not rows:
        return np.empty((0, 0))
    X = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    Xn2 = (X**2).sum(axis=1)
    for _ in range(iterations):
        # argmin of |x-c|^2 via |x|^2 - 2 x.c + |c|^2: (n, k) instead of
        # an (n, k, dim) broadcast tensor.
        d = Xn2[:, None] - 2.0 * (X @ C.T) + (C**2).sum(axis=1)[None, :]
        assign = d.argmin(axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def centroid_assign(vec: Column, centroids: np.ndarray, nprobe: int = 1) -> Column:
    """array<int>: ids of the ``nprobe`` nearest centroids (numpy matmul
    per Arrow batch — the IVF assignment kernel)."""
    from pyspark.sql.functions import pandas_udf

    C = centroids
    Cn2 = (C**2).sum(axis=1)

    @pandas_udf("array<int>")
    def _assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        V = np.stack(vs.to_numpy()).astype(np.float64)
        # squared L2 to every centroid: |v|^2 - 2 v.c + |c|^2 (|v|^2 constant per row)
        d = Cn2[None, :] - 2.0 * (V @ C.T)
        idx = np.argsort(d, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(idx))

    return _assign(vec)


def centroid_assign_with_dist(
    vec: Column, centroids: np.ndarray, cluster_ids: np.ndarray | None = None
) -> Column:
    """struct<cluster int, d2 double>: nearest centroid id plus the
    squared L2 distance to it (one numpy matmul per Arrow batch — the
    Lloyd-iteration assignment kernel). ``cluster_ids`` maps centroid row
    positions back to cluster labels (identity when omitted) — pass the
    ids from :func:`centroid_means` so vanished clusters leave no phantom
    candidate.

    Determinism contract: ``d2`` is rounded to 3 dp BEFORE the argmin and
    ties break to the lowest cluster id (rows are id-sorted and
    ``np.argmin`` returns the first minimum), matching a single-node
    oracle ordering by ``(round(d2, 3), cluster)``. Note on the rounding
    rule: numpy rounds half-to-even, DuckDB half-away-from-zero, and
    SOME IEEE doubles DO sit exactly on a 3 dp half boundary (any dyadic
    value (2k+1)/2000 with 125 | (2k+1), e.g. 0.0625) — on those the two
    rules genuinely disagree. A +1e-9 nudge is added before rounding on
    BOTH engines (the repo's standard tie-nudge — ``TIE_NUDGE`` /
    ``nudge_round*`` in functions/vectors.py, lint-enforced on every
    vector oracle) so exact half boundaries are pushed off; residual
    risk is only the ~1e-13 cross-engine drift any rounded float compare
    carries."""
    from pyspark.sql.functions import pandas_udf

    C = centroids.astype(np.float64)
    Cn2 = (C**2).sum(axis=1)
    ids = (
        np.arange(len(C), dtype=np.int32)
        if cluster_ids is None
        else np.asarray(cluster_ids, dtype=np.int32)
    )

    @pandas_udf("cluster int, d2 double")
    def _assign(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"cluster": pd.Series([], dtype="int32"),
                                 "d2": pd.Series([], dtype="float64")})
        V = np.stack(vs.to_numpy()).astype(np.float64)
        d = VEC.nudge_round_np(
            (V**2).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + Cn2[None, :], 3
        )
        idx = d.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": ids[idx], "d2": d[np.arange(len(V)), idx]}
        )

    return _assign(vec)


def centroid_means(
    df: DataFrame, vec_col: str, cluster_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """(cluster_ids, means) for every NON-EMPTY cluster, computed
    DISTRIBUTED: posexplode the vector into (cluster, dim, x) rows and
    groupBy(cluster, dim). Rows of ``means`` are sorted by cluster id;
    clusters with no members simply do not appear (fabricating e.g.
    zero-vector centroids for them would create phantom assignment
    candidates no serial implementation has).

    Scale shape: the explode is map-side JVM work and hash aggregation is
    partial-before-shuffle, so the exchange carries only
    ``k x dim x n_partitions`` partial sums — never data-sized traffic.
    The k x dim result (a few KB) is collected to the driver to become the
    next iteration's broadcast centroids, the standard distributed-Lloyd
    round trip. That one aggregation runs under :func:`loop_shuffle_confs`:
    a k x dim shuffle wants cluster-parallelism width, not the session's
    fact-table width."""
    spark = df.sparkSession
    with scoped_conf(spark, loop_shuffle_confs(spark)):
        rows = (
            df.select(F.col(cluster_col).alias("__c"), F.posexplode(vec_col).alias("__i", "__x"))
            .groupBy("__c", "__i")
            .agg(F.avg(F.col("__x").cast("double")).alias("__m"))
            .collect()
        )
    if not rows:
        return np.empty((0,), dtype=np.int32), np.empty((0, 0))
    dim = max(r["__i"] for r in rows) + 1
    ids = np.array(sorted({r["__c"] for r in rows}), dtype=np.int32)
    pos = {c: p for p, c in enumerate(ids)}
    C = np.zeros((len(ids), dim))
    for r in rows:
        C[pos[r["__c"]], r["__i"]] = r["__m"]
    return ids, C


def kmeans_lloyd(
    df: DataFrame,
    k: int,
    iterations: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, np.ndarray, list[float]]:
    """Full distributed Lloyd k-means: ``iterations`` rounds of
    (two-phase centroid means -> broadcast-closure reassignment) from the
    deterministic init ``cluster = id % k``.

    Returns (assignments DataFrame [id, vec, cluster, d2], final
    centroids, per-round inertia history — non-increasing by Lloyd's
    monotonicity, unit-tested). The returned DataFrame is the LIVE
    persisted/checkpointed handle — call ``.unpersist()`` on it when
    done (selecting columns first would hand back a derived plan whose
    ``unpersist`` is a no-op, leaking a corpus-sized cache).

    Scale shape per round (cf. :func:`centroid_means` /
    :func:`centroid_assign_with_dist`): one map-only assignment pass +
    one k x dim partial-sum shuffle; assignments are ``persist``ed and
    the predecessor unpersisted so round *i* never re-executes rounds
    1..i-1, with a ``localCheckpoint`` every fourth round truncating
    the lineage (the connected-components lesson —
    ``operators/graph.py``). The driver holds only k x dim floats.
    Clusters that empty out between rounds die (no phantom zero-vector
    centroids — see :func:`centroid_means`)."""
    spark = df.sparkSession
    # one ckpt call per round: persist between, truncate every fourth
    # round.
    ckpt = make_ckpt(spark, checkpoint_dir, ckpt_interval=4)
    # Round shuffles (k x dim partial sums) are sized to cluster
    # parallelism for the loop, not the session's fact-table shuffle
    # width — same rationale as operators/graph.py; restored on exit.
    with scoped_conf(spark, loop_shuffle_confs(spark)):
        assigned = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            (F.col(id_col) % k).cast("int").alias("cluster"),
            F.lit(0.0).alias("d2"),
        ).persist()
        history: list[float] = []
        C = np.empty((0, 0))
        for i in range(iterations):
            ids, C = centroid_means(assigned, "vec", "cluster")
            if C.size == 0:  # empty input
                break
            a = centroid_assign_with_dist(F.col("vec"), C, cluster_ids=ids)
            new = assigned.select("id", "vec", a.alias("a")).select(
                "id", "vec", F.col("a.cluster").alias("cluster"), F.col("a.d2").alias("d2")
            )
            # lazy: the inertia action below materializes AND (on a
            # truncating round) checkpoints — one job per round.
            new = ckpt(new, eager=False)
            history.append(new.agg(F.sum("d2")).collect()[0][0] or 0.0)
            assigned.unpersist()
            assigned = new
        return assigned, C, history


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer -> corpus rows in
    their nearest centroid's list, queries probe ``nprobe`` lists ->
    exact cosine re-rank of list members only.

    Same plan shape as LSH (map-only assignment, int-key join, re-rank)
    with data-adaptive buckets; recall rises with nprobe (exact at
    nprobe = n_centroids). Unit-tested against the brute-force baseline.
    """
    cents = kmeans_centroids(corpus.select(vec_col), vec_col, n_centroids)
    if cents.size == 0:  # empty corpus
        q_type = dict(queries.dtypes)[query_id_col]
        id_type = dict(corpus.dtypes)[id_col]
        return local_frame(
            corpus.sparkSession,
            [],
            f"query_id {q_type}, neighbor_id {id_type}, cos double, rank int",
        )
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.explode(centroid_assign(F.col(vec_col), cents, nprobe=1)).alias("list_id"),
    )
    qb = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(centroid_assign(F.col(vec_col), cents, nprobe=nprobe)).alias("list_id"),
    )
    # No distinct: corpus rows live in exactly one list (nprobe=1) and a
    # query's probed lists are distinct, so a pair matches at most once —
    # a dedup here would only shuffle the full embedding vectors.
    cand = qb.join(cb, "list_id").select("query_id", "neighbor_id", "__qv", "__cv")
    scored = cand.select(
        "query_id",
        "neighbor_id",
        VEC.nudge_round(VEC.cosine_udf(F.col("__qv"), F.col("__cv")), 4).alias("cos"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
    n_bits: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH candidate pruning + exact
    cosine re-rank. Same output schema as :func:`cosine_topk`; recall < 1
    by construction (band collisions bound it — verified in unit tests).
    """
    cb = hyperplane_buckets(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")),
        "__cv",
        dim,
        n_bits,
        bands,
    )
    qb = hyperplane_buckets(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")),
        "__qv",
        dim,
        n_bits,
        bands,
    )
    cand = (
        qb.join(cb, ["band", "bucket"])
        .select("query_id", "neighbor_id", "__qv", "__cv")
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        VEC.nudge_round(VEC.cosine_udf(F.col("__qv"), F.col("__cv")), 4).alias("cos"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )
