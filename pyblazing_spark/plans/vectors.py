"""Distributed vector-pipeline operators over the ``embeddings`` table
(driver extension — the training-data north-star: clustering for corpus
bucketing / IVF index builds, and scalar quantization for embedding
storage compression).

Scale notes:

- **k-means (one distributed Lloyd step)**: the centroid update is the
  classic two-phase mean — posexplode to (cluster, dim, x), hash-agg
  with map-side partial aggregation so the exchange carries only
  ``k x dim x n_partitions`` partial sums; the k x dim result (KBs) is
  collected and re-broadcast in the assignment kernel's closure (one
  numpy matmul per Arrow batch). Per iteration at 100 TB: one map-only
  pass + one tiny shuffle — the textbook distributed-Lloyd shape. The
  registered entry runs ONE full iteration from a deterministic init so
  DuckDB can replay it exactly; production loops the same two calls.
- **int8 scalar quantization**: pass 1 computes per-dimension min/max
  (shuffle = 64 partial rows per partition); pass 2 quantizes in the
  scan stage against the broadcast 64-row stats table. Codes are exact
  integers, so ``code_sum`` is an order-independent, hash-stable
  checksum of every quantized value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyblazing_spark.functions import vectors as VEC
from pyblazing_spark.plans.registry import register
from pyblazing_spark.session import local_frame, loop_shuffle_confs, scoped_conf
from pyblazing_spark.sources.tables import load_table as T

_K = 8  # registered-entry cluster count (production: 2^8-2^12)


#: Shared oracle fragment: the rounded-squared-distance expression both
#: k-means entries use — the assignment contract lives in ONE place.
def _sql_d2(p: str, c: str) -> str:
    return VEC.nudge_round_sql(
        f"list_dot_product({p}.v, {p}.v)"
        f" - 2 * list_dot_product({p}.v, {c}.cv)"
        f" + list_dot_product({c}.cv, {c}.cv)",
        3,
    )


@register(
    "vector_kmeans",
    tags=("vector", "clustering", "llm"),
    oracle=f"""
WITH init AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CAST(vec_id % {_K} AS INTEGER) AS c0
  FROM embeddings),
 cent AS (
  SELECT c0, i, avg(v[i]) AS m
  FROM init JOIN generate_series(1, 64) t(i) ON true
  GROUP BY c0, i),
 cl AS (
  SELECT c0 AS cand, list(m ORDER BY i) AS cv FROM cent GROUP BY c0),
 dist AS (
  SELECT v.vec_id, c.cand, {_sql_d2('v', 'c')} AS d2
  FROM init v CROSS JOIN cl c),
 best AS (
  SELECT vec_id, cand, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rn
  FROM dist)
SELECT cand AS cluster,
       CAST(count(*) AS BIGINT)    AS n_points,
       CAST(sum(vec_id) AS BIGINT) AS id_sum,
       round(sum(d2) + 1e-6, 2)    AS inertia
FROM best WHERE rn = 1
GROUP BY cand ORDER BY cluster
""",
)
def vector_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd iteration from the deterministic init
    ``cluster0 = vec_id % k``: per-cluster per-dim means (distributed
    two-phase aggregate), then every vector re-assigned to its nearest
    centroid (numpy kernel, broadcast centroids). Output: per-cluster
    size, id checksum, and inertia (sum of squared distances).

    Determinism: init is hash-free and RNG-free; ``d2`` is rounded to
    3 dp before the argmin with ties to the lowest cluster id in BOTH
    engines, so assignment is bit-stable across engines and partition
    layouts. ``id_sum`` makes the oracle sensitive to WHICH vectors
    landed in each cluster. Both engines consider only NON-EMPTY init
    clusters as candidates (the oracle's ``cl`` CTE has no row for an
    empty cluster; :func:`centroid_means` likewise emits none), so the
    candidate sets agree even on degenerate inputs."""
    from pyblazing_spark.operators.similarity import (
        centroid_assign_with_dist,
        centroid_means,
    )

    emb = T(spark, sf_dir, "embeddings")
    init = emb.select(
        "vec_id", "embedding", (F.col("vec_id") % _K).cast("int").alias("c0")
    )

    ids, C = centroid_means(init, "embedding", "c0")
    a = centroid_assign_with_dist(F.col("embedding"), C, cluster_ids=ids)
    assigned = init.select("vec_id", a.alias("a")).select(
        "vec_id", F.col("a.cluster").alias("cluster"), F.col("a.d2").alias("d2")
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("vec_id").alias("id_sum"),
            # +1e-6 tie-nudge: the 3dp-rounded d2 values are not exact
            # binary decimals, so their sum can straddle a .005 boundary
            # differently per engine (TIE_NUDGE convention,
            # functions/vectors.py).
            F.round(F.sum("d2") + 1e-6, 2).alias("inertia"),
        )
        .orderBy("cluster")
    )


@register(
    "vector_quantize",
    tags=("vector", "quantization", "llm"),
    oracle="""
WITH ex AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings JOIN generate_series(1, 64) t(i) ON true),
 st AS (
  SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i),
 q AS (
  SELECT vec_id, x, mn, mx,
         CAST(round((x - mn) / (mx - mn) * 255, 0) AS INTEGER) AS code
  FROM ex JOIN st USING (i)),
 d AS (
  SELECT vec_id, code, x, mn + code * (mx - mn) / 255 AS deq FROM q)
SELECT vec_id,
       CAST(count(*) AS INTEGER) AS n_dims,
       CAST(sum(code) AS BIGINT) AS code_sum,
       round(sqrt(avg((x - deq) * (x - deq))) + 1e-12, 6) AS rmse
FROM d GROUP BY vec_id ORDER BY vec_id
""",
)
def vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8-style scalar quantization (the embedding-store
    compression pass: 64 floats -> 64 uint8 codes + a 64-row codebook).
    Pass 1 aggregates per-dim min/max; pass 2 maps each value to
    ``round((x - mn) / (mx - mn) * 255)`` against the BROADCAST stats
    and measures reconstruction RMSE per vector.

    ``code_sum`` (an exact integer over all 64 codes) is the
    order-independent proof that every code matches the oracle; rmse is
    rounded to 6 dp to absorb float summation order. Both engines round
    half-away-from-zero on nonnegative doubles, and codes 0/255 land on
    exact endpoints, so no half-way ties exist in practice."""
    emb = T(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    st = ex.groupBy("i").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    code = F.round((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255, 0).cast(
        "int"
    )
    q = ex.join(F.broadcast(st), "i").select(
        "vec_id", "x", "mn", "mx", code.alias("code")
    )
    deq = F.col("mn") + F.col("code") * (F.col("mx") - F.col("mn")) / 255
    d = q.select("vec_id", "code", "x", deq.alias("deq"))
    err = (F.col("x") - F.col("deq")) * (F.col("x") - F.col("deq"))
    return (
        d.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_dims"),
            F.sum("code").alias("code_sum"),
            F.round(F.sqrt(F.avg(err)) + 1e-12, 6).alias("rmse"),
        )
        .orderBy("vec_id")
    )


@register(
    "vector_kmeans_iter2",
    tags=("vector", "clustering", "llm", "iterative"),
    oracle=f"""
WITH init AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CAST(vec_id % {_K} AS INTEGER) AS c0
  FROM embeddings),
 cent1 AS (
  SELECT c0, i, avg(v[i]) AS m
  FROM init JOIN generate_series(1, 64) t(i) ON true GROUP BY c0, i),
 cl1 AS (SELECT c0 AS cand, list(m ORDER BY i) AS cv FROM cent1 GROUP BY c0),
 d1 AS (
  SELECT p.vec_id, p.v, c.cand, {_sql_d2('p', 'c')} AS d2
  FROM init p CROSS JOIN cl1 c),
 a1 AS (
  SELECT vec_id, v, cand AS c1
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rn
        FROM d1) WHERE rn = 1),
 cent2 AS (
  SELECT c1, i, avg(v[i]) AS m
  FROM a1 JOIN generate_series(1, 64) t(i) ON true GROUP BY c1, i),
 cl2 AS (SELECT c1 AS cand, list(m ORDER BY i) AS cv FROM cent2 GROUP BY c1),
 d2t AS (
  SELECT p.vec_id, c.cand, {_sql_d2('p', 'c')} AS d2
  FROM a1 p CROSS JOIN cl2 c),
 a2 AS (
  SELECT vec_id, cand AS cluster, d2
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rn
        FROM d2t) WHERE rn = 1)
SELECT cluster,
       CAST(count(*) AS BIGINT)    AS n_points,
       CAST(sum(vec_id) AS BIGINT) AS id_sum,
       round(sum(d2) + 1e-6, 2)    AS inertia
FROM a2 GROUP BY cluster ORDER BY cluster
""",
)
def vector_kmeans_iter2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO full Lloyd iterations through the production loop
    (:func:`pyblazing_spark.operators.similarity.kmeans_lloyd` — the
    persist/localCheckpoint round-trip, not the single-step path), with
    DuckDB replaying both rounds via chained CTEs. This driver-checks
    the ITERATIVE machinery itself: a stale cache, a lineage bug, or a
    drifting centroid in round 2 shows up as a cluster/inertia mismatch
    that the one-step ``vector_kmeans`` entry cannot see."""
    from pyblazing_spark.operators.similarity import kmeans_lloyd

    emb = T(spark, sf_dir, "embeddings")
    assigned, _C, _hist = kmeans_lloyd(emb, k=_K, iterations=2)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("id").alias("id_sum"),
            F.round(F.sum("d2") + 1e-6, 2).alias("inertia"),
        )
        .orderBy("cluster")
    )


@register(
    "vector_diversity",
    tags=("vector", "statistics", "llm"),
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(vec_id % {_K} AS INTEGER) AS g,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
 pairs AS (
  SELECT a.g,
         list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, b.v)
         + list_dot_product(b.v, b.v) AS d2
  FROM e a JOIN e b ON a.g = b.g AND a.vec_id < b.vec_id)
SELECT g,
       CAST(count(*) AS BIGINT)       AS n_pairs,
       round(avg(d2) + 1e-9, 3)       AS mean_pairwise_d2
FROM pairs GROUP BY g ORDER BY g
""",
)
def vector_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity: mean pairwise squared L2 distance per vector
    group, computed in ONE PASS via the sum-of-squares identity
    ``sum_{{i<j}} |xi-xj|^2 = n * sum|xi|^2 - |sum xi|^2`` — the
    standard trick that turns an O(n^2) statistic into two linear
    aggregates (per-dim sums and a squared-norm sum). The oracle
    computes the BRUTE-FORCE all-pairs average in DuckDB, so the entry
    proves the identity implementation, not just its own arithmetic.

    Scale: posexplode is map-side; the exchange carries only
    (group, dim, partial sum) rows — k x 64 x n_partitions — while the
    all-pairs formulation it replaces is quadratic in corpus size and
    impossible at 100 TB. Diversity/dispersion per shard is a standard
    embedding-corpus health metric (mode-collapse detection)."""
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("vec_id") % _K).cast("int").alias("g"),
        F.col("embedding").alias("v"),
    )
    ex = emb.select(
        "g", F.posexplode("v").alias("i", "xf")
    ).select("g", "i", F.col("xf").cast("double").alias("x"))
    # per (group, dim): sum x and sum x^2 — ONE aggregation pass
    dims = ex.groupBy("g", "i").agg(
        F.sum("x").alias("s1"), F.sum(F.col("x") * F.col("x")).alias("s2")
    )
    # collapse dims: |sum xi|^2 = sum_d s1_d^2 ; sum|xi|^2 = sum_d s2_d
    per_g = dims.groupBy("g").agg(
        F.sum(F.col("s1") * F.col("s1")).alias("norm_sum_sq"),
        F.sum("s2").alias("sum_norms"),
    )
    counts = emb.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    n = F.col("n")
    total_d2 = n * F.col("sum_norms") - F.col("norm_sum_sq")
    return (
        per_g.join(counts, "g")
        .where(n >= 2)
        .select(
            "g",
            (n * (n - 1) / 2).cast("long").alias("n_pairs"),
            VEC.nudge_round(total_d2 / (n * (n - 1) / 2), 3).alias(
                "mean_pairwise_d2"
            ),
        )
        .orderBy("g")
    )


_PQ_M = 4       # subspaces
_PQ_SUBDIM = 16  # dims per subspace (64-dim embeddings)
_PQ_K = 4       # centroids per subspace codebook


def _pq_oracle() -> str:
    """Per-subspace codebook build + assignment as chained CTEs, packed
    into one 8-bit code per vector (2 bits x 4 subspaces)."""
    subs = []
    for s in range(_PQ_M):
        lo, hi = s * _PQ_SUBDIM + 1, (s + 1) * _PQ_SUBDIM
        subs.append(f"""
 init{s} AS (
  SELECT vec_id,
         list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS v,
         CAST(vec_id % {_PQ_K} AS INTEGER) AS c0
  FROM embeddings),
 cent{s} AS (
  SELECT c0, i, avg(v[i]) AS m
  FROM init{s} JOIN generate_series(1, {_PQ_SUBDIM}) t(i) ON i <= {_PQ_SUBDIM}
  GROUP BY c0, i),
 cl{s} AS (SELECT c0 AS cand, list(m ORDER BY i) AS cv FROM cent{s} GROUP BY c0),
 dist{s} AS (
  SELECT v.vec_id, c.cand, {_sql_d2('v', 'c')} AS d2
  FROM init{s} v CROSS JOIN cl{s} c),
 best{s} AS (
  SELECT vec_id, cand, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rn
  FROM dist{s})""")
    base = "(SELECT vec_id, cand AS c0, d2 AS e0 FROM best0 WHERE rn = 1) b0"
    join = base + " ".join(
        f" JOIN (SELECT vec_id, cand AS c{s}, d2 AS e{s} FROM best{s} WHERE rn = 1)"
        f" b{s} ON b0.vec_id = b{s}.vec_id"
        for s in range(1, _PQ_M)
    )
    code = " + ".join(
        f"b{s}.c{s} * {_PQ_K ** (_PQ_M - 1 - s)}" for s in range(_PQ_M)
    )
    err = " + ".join(f"b{s}.e{s}" for s in range(_PQ_M))
    return f"""
WITH {",".join(subs)}
SELECT CAST({code} AS INTEGER)        AS code,
       CAST(count(*) AS BIGINT)       AS n_vectors,
       CAST(sum(b0.vec_id) AS BIGINT) AS id_sum,
       round(sum({err}) + 1e-6, 2)    AS total_err
FROM {join}
GROUP BY code
ORDER BY code
"""


@register(
    "vector_pq",
    tags=("vector", "quantization", "ann", "llm"),
    oracle=_pq_oracle(),
)
def vector_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (m=4 subspaces x 16 dims, k=4 codebook each):
    every 64-dim embedding compresses to one 8-bit code, the storage
    layout ANN systems use at 100 TB (256 bytes of float32 -> 1 byte +
    a shared 4x4x16-float codebook). Codebooks come from one Lloyd mean
    over the deterministic init ``vec_id % k`` per subspace; each
    subvector is assigned to its nearest codebook row under the repo's
    rounded-d2/lowest-id tie contract, and the per-vector reconstruction
    error is the sum of subspace distances.

    Scale plan: the codebook build is the same two-phase partial-mean
    shuffle as :func:`vector_kmeans` but over 16-dim slices (4 tiny
    aggregations); assignment is 4 broadcast-closure numpy kernels in
    ONE projection — embeddings are read once, nothing vector-sized
    shuffles, and the output aggregate carries ≤256 code rows. The
    oracle replays all four codebooks and assignments as chained CTEs
    and checks id-exact membership per code."""
    from pyblazing_spark.operators.similarity import (
        centroid_assign_with_dist,
        centroid_means,
    )

    emb = T(spark, sf_dir, "embeddings")
    init = emb.select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % _PQ_K).cast("int").alias("c0"),
        *[
            F.slice("embedding", s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias(f"sub{s}")
            for s in range(_PQ_M)
        ],
    )
    assigns = []
    for s in range(_PQ_M):
        ids, C = centroid_means(
            init.select(F.col(f"sub{s}").alias("v"), "c0"), "v", "c0"
        )
        assigns.append(
            centroid_assign_with_dist(F.col(f"sub{s}"), C, cluster_ids=ids)
        )
    coded = init.select(
        "vec_id", *[a.alias(f"a{s}") for s, a in enumerate(assigns)]
    ).select(
        "vec_id",
        sum(
            F.col(f"a{s}.cluster") * (_PQ_K ** (_PQ_M - 1 - s)) for s in range(_PQ_M)
        ).cast("int").alias("code"),
        sum(F.col(f"a{s}.d2") for s in range(_PQ_M)).alias("err"),
    )
    return (
        coded.groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("vec_id").alias("id_sum"),
            F.round(F.sum("err") + 1e-6, 2).alias("total_err"),
        )
        .orderBy("code")
    )


_ADC_SHORTLIST = 40


def _pq_adc_oracle() -> str:
    """Full IVF-PQ-style ADC replay: per-subspace codebooks from the
    corpus, corpus codes, query→centroid lookup tables, ADC shortlist,
    exact cosine re-rank — every stage in SQL."""
    subs = []
    for s in range(_PQ_M):
        lo, hi = s * _PQ_SUBDIM + 1, (s + 1) * _PQ_SUBDIM
        subs.append(f"""
 init{s} AS (
  SELECT vec_id,
         list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS v,
         CAST(vec_id % {_PQ_K} AS INTEGER) AS c0
  FROM corpus),
 cent{s} AS (
  SELECT c0, i, avg(v[i]) AS m
  FROM init{s} JOIN generate_series(1, {_PQ_SUBDIM}) t(i) ON i <= {_PQ_SUBDIM}
  GROUP BY c0, i),
 cl{s} AS (SELECT c0 AS cand, list(m ORDER BY i) AS cv FROM cent{s} GROUP BY c0),
 best{s} AS (
  SELECT vec_id, cand, rn FROM (
    SELECT v.vec_id, c.cand,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_sql_d2('v', 'c')}, c.cand) AS rn
    FROM init{s} v CROSS JOIN cl{s} c) x WHERE rn = 1),
 qsub{s} AS (
  SELECT query_id,
         list_transform(qv[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS v
  FROM queries),
 lut{s} AS (
  SELECT q.query_id, c.cand, {_sql_d2('q', 'c')} AS d2
  FROM qsub{s} q CROSS JOIN cl{s} c)""")
    code_join = " ".join(
        f"JOIN best{s} ON best{s}.vec_id = c.vec_id" for s in range(_PQ_M)
    )
    lut_join = " ".join(
        f"JOIN lut{s} ON lut{s}.query_id = q.query_id"
        f" AND lut{s}.cand = codes.k{s}"
        for s in range(_PQ_M)
    )
    adc_sum = " + ".join(f"lut{s}.d2" for s in range(_PQ_M))
    code_cols = ", ".join(f"best{s}.cand AS k{s}" for s in range(_PQ_M))
    return f"""
WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
 queries AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
             WHERE vec_id < 5),
{",".join(subs)},
 codes AS (
  SELECT c.vec_id AS neighbor_id, {code_cols}
  FROM corpus c {code_join}),
 adc AS (
  SELECT q.query_id, codes.neighbor_id,
         round({adc_sum} + 1e-9, 3) AS adc
  FROM queries q CROSS JOIN codes {lut_join}),
 shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, neighbor_id) AS rn
    FROM adc) x WHERE rn <= {_ADC_SHORTLIST}),
 rerank AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_cosine_similarity(q.qv, c.embedding) + 1e-9, 4) AS cos
  FROM shortlist s
  JOIN queries q ON q.query_id = s.query_id
  JOIN corpus c ON c.vec_id = s.neighbor_id)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM rerank) x
WHERE rank <= 5
ORDER BY query_id, rank
"""


@register(
    "ann_pq_adc",
    tags=("llm", "ann", "pq", "quantization"),
    oracle=_pq_adc_oracle(),
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the memory-bound half of a FAISS-style IVF-PQ index: the
    corpus is stored as 8-bit PQ codes; each query precomputes a
    (subspace × centroid) distance lookup table, scores every code by
    FOUR table lookups instead of a 64-dim dot product, shortlists the
    top-40, and exact-rank re-ranks only the shortlist. Composes with
    :func:`ann_ivf`'s coarse lists for the full IVF-PQ architecture.

    Scale plan: codes are 1 byte/vector where floats are 256 — the ADC
    scan reads 256x less memory than brute force; the per-query LUT is
    |queries| x m x k rows (80 here) and BROADCAST, so scoring is a
    map-side join + partial-sum aggregate keyed on (query, neighbor).
    Only the 40-row-per-query shortlist ever touches real vectors
    again. The oracle replays codebook build, encoding, LUTs, ADC
    ranking, and re-rank entirely in SQL, so every stage must agree
    under the repo's rounded-distance/lowest-id tie contract."""
    from pyblazing_spark.operators.similarity import (
        centroid_assign_with_dist,
        cosine_topk,
    )

    import numpy as np

    emb = T(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    init = corpus.select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % _PQ_K).cast("int").alias("c0"),
        *[
            F.slice("embedding", s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias(f"sub{s}")
            for s in range(_PQ_M)
        ],
    )
    q_rows = queries.collect()
    # ALL m codebooks in ONE aggregation job (a per-subspace
    # centroid_means loop costs m sequential collects; the fused explode
    # carries (sub, cluster, dim, x) and partials map-side identically).
    subs_struct = F.array(
        *[
            F.struct(F.lit(s).alias("sub"), F.col(f"sub{s}").alias("v"))
            for s in range(_PQ_M)
        ]
    )
    with scoped_conf(spark, loop_shuffle_confs(spark)):
        mean_rows = (
            init.select("c0", F.explode(subs_struct).alias("sv"))
            .select("c0", F.col("sv.sub").alias("sub"), F.posexplode("sv.v").alias("i", "x"))
            .groupBy("sub", "c0", "i")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
    books: dict[int, dict[int, np.ndarray]] = {}
    for r in mean_rows:
        books.setdefault(r["sub"], {}).setdefault(
            r["c0"], np.zeros(_PQ_SUBDIM)
        )[r["i"]] = r["m"]
    assigns, lut_rows = [], []
    for s in range(_PQ_M):
        ids = np.array(sorted(books.get(s, {})), dtype=np.int32)
        C = np.stack([books[s][c] for c in ids]) if len(ids) else np.empty((0, 0))
        assigns.append(
            centroid_assign_with_dist(F.col(f"sub{s}"), C, cluster_ids=ids)
        )
        for qr in q_rows:
            qs = np.asarray(
                qr["embedding"][s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM],
                dtype=np.float64,
            )
            for pos, cand in enumerate(ids):
                c = C[pos]
                d2 = float(
                    VEC.nudge_round_np(qs @ qs - 2.0 * (qs @ c) + c @ c, 3)
                )
                lut_rows.append((int(qr["query_id"]), int(s), int(cand), d2))
    lut = local_frame(spark, lut_rows, "query_id long, sub int, code int, d2 double")
    codes_long = init.select(
        F.col("vec_id").alias("neighbor_id"),
        *[a.alias(f"a{s}") for s, a in enumerate(assigns)],
    ).select(
        "neighbor_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"), F.col(f"a{s}.cluster").alias("code")
                    )
                    for s in range(_PQ_M)
                ]
            )
        ).alias("sc"),
    ).select("neighbor_id", F.col("sc.sub").alias("sub"), F.col("sc.code").alias("code"))
    adc = (
        codes_long.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(VEC.nudge_round(F.sum("d2"), 3).alias("adc"))
    )
    from pyspark.sql import Window as W

    w_short = W.partitionBy("query_id").orderBy("adc", "neighbor_id")
    shortlist = (
        adc.withColumn("rn", F.row_number().over(w_short))
        .where(F.col("rn") <= _ADC_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # Broadcast the ≤ |queries|*shortlist id set so the corpus NEVER
    # shuffles its vectors (plan-audited: no Exchange carries embedding).
    members = corpus.join(
        F.broadcast(shortlist.select("neighbor_id").distinct()),
        corpus.vec_id == F.col("neighbor_id"),
    ).select(F.col("vec_id"), "embedding")
    cos_all = cosine_topk(
        members, queries, k=5 * _ADC_SHORTLIST, query_id_col="query_id"
    ).select("query_id", "neighbor_id", "cos")
    w_rank = W.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        shortlist.join(cos_all, ["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank")
    )


# ------------------------------------------------------- semantic dedup
_SEM_TAU = 0.9  # near-dup cosine threshold (fixture gap: base pairs <= 0.61)
_SEM_OFF = 1_000_000  # planted-copy id offset (multiple of _K)


def _semdedup_oracle() -> str:
    return f"""
WITH corpus AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + {_SEM_OFF}, embedding FROM embeddings
            WHERE vec_id % 16 = 0
  UNION ALL SELECT vec_id + {2 * _SEM_OFF}, embedding FROM embeddings
            WHERE vec_id % 48 = 0),
 init AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CAST(vec_id % {_K} AS INTEGER) AS c0
  FROM corpus),
 cent AS (
  SELECT c0, i, avg(v[i]) AS m
  FROM init JOIN generate_series(1, 64) t(i) ON true GROUP BY c0, i),
 cl AS (SELECT c0 AS cand, list(m ORDER BY i) AS cv FROM cent GROUP BY c0),
 dist AS (
  SELECT p.vec_id, c.cand, {_sql_d2('p', 'c')} AS d2
  FROM init p CROSS JOIN cl c),
 a1 AS (
  SELECT vec_id, cand AS cluster
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cand) AS rn
        FROM dist) WHERE rn = 1),
 e AS MATERIALIZED (
  SELECT a1.vec_id, a1.cluster, init.v FROM a1 JOIN init USING (vec_id)),
 pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= {_SEM_TAU}),
 losers AS MATERIALIZED (SELECT DISTINCT id_b FROM pairs)
SELECT e.cluster,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(CASE WHEN l.id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(sum(CASE WHEN l.id_b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(coalesce(bit_xor(CASE WHEN l.id_b IS NULL THEN
         CAST(('0x' || substring(md5(CAST(e.vec_id AS VARCHAR)), 3, 15))::BIGINT
              AS BIGINT) END), 0) AS BIGINT) AS kept_xor
FROM e LEFT JOIN losers l ON l.id_b = e.vec_id
GROUP BY e.cluster ORDER BY e.cluster
"""


@register(
    "dedup_semantic_exhaustive",
    tags=("vector", "dedup", "semantic", "llm", "clustering"),
    oracle=_semdedup_oracle(),
)
def dedup_semantic_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication at a PROVABLY-EXHAUSTIVE
    configuration — the recall companion to ``dedup_semantic``
    (plans/llm.py), whose within-cluster contract is honest about
    missing cross-cluster pairs; here the corpus is constructed so no
    qualifying pair CAN cross a cluster, and the greedy keep-one result
    equals the brute-force one exactly (the ann_lsh exhaustive-settings
    pattern, unit-tested against brute force at the fixtures). Never
    all-pairs: the pair join is keyed on the cluster id, so cost is
    sum(cluster^2), bounded by choosing K ~ n/target_cluster_size (a
    degenerate cluster of near-identical vectors would use the
    star-capped ``embedding_pairs_lsh`` expansion within the bucket —
    same trade documented there).

    Provably-exhaustive configuration (the ann_lsh pattern): the
    fixture embeddings carry no near-dup pairs (max base-pair cosine
    0.61, probed all SFs), so the entry PLANTS them — exact copies of
    every 16th vector (every 48th twice: 3-member groups exercise
    multi-drop). Identical vectors get identical rounded d2 rows and
    the argmin tie-break is deterministic, so a copy lands in ITS
    BASE'S cluster by construction — at tau=0.9, with inter-base pairs
    capped at 0.61, every qualifying pair is within-bucket and
    bucketed recall equals brute force EXACTLY (unit-tested at the
    fixtures; the oracle replays the bucketed semantics verbatim).

    Scale shape: one distributed-Lloyd step (same machinery as
    vector_kmeans — partial-agg centroid means, broadcast numpy
    assignment kernel), the assignment materialized once
    (localCheckpoint — a production run sinks it), cluster-keyed pair
    join, one conditional rollup. The commutative md5-xor over kept
    ids proves the surviving SET, not just counts."""
    from pyblazing_spark.operators.similarity import (
        centroid_assign_with_dist,
        centroid_means,
    )

    emb = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
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
        .localCheckpoint(eager=True)  # the materialized assignment
    )
    pa, pb = assigned.alias("a"), assigned.alias("b")
    pairs = (
        pa.join(
            pb,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "cos", VEC.cosine_udf(F.col("a.embedding"), F.col("b.embedding"))
        )
        .where(F.col("cos") >= _SEM_TAU)
        .select(F.col("b.vec_id").alias("id_b"))
    )
    losers = pairs.distinct().withColumn("__l", F.lit(1))
    h60 = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string").cast("binary")), 3, 15),
        16,
        10,
    ).cast("long")
    return (
        assigned.join(losers, assigned["vec_id"] == losers["id_b"], "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(F.when(F.col("__l") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.sum(F.when(F.col("__l").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.coalesce(
                F.bit_xor(F.when(F.col("__l").isNull(), h60)), F.lit(0)
            )
            .cast("long")
            .alias("kept_xor"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------- persisted IVF-Flat index
def _ivf_persisted_oracle() -> str:
    """Full-replay oracle for the persisted IVF index lifecycle: frozen
    coarse quantizer (one Lloyd step from c0 = vec_id % K over the BASE
    corpus), MERGE of a delta (new vectors + re-embedded updates),
    nprobe=1 probe assignment, exact cosine re-rank — every stage the
    same rounded-d2 / rounded-cos conventions as vector_kmeans /
    ann_ivf (the Spark side persists and re-reads the index through a
    TxnTable; the math is identical, so the value-compare proves the
    persisted index answers EQUAL the in-run IVF path)."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id >= 5 AND vec_id % 10 != 7),
 init AS MATERIALIZED (
  SELECT vec_id, v, CAST(vec_id % {_K} AS INTEGER) AS c0 FROM base),
 cent AS (
  SELECT c0, i, avg(v[i]) AS m
  FROM init JOIN generate_series(1, 64) t(i) ON true GROUP BY c0, i),
 cl AS MATERIALIZED (
  SELECT c0 AS cand, list(m ORDER BY i) AS cv FROM cent GROUP BY c0),
 delta AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id >= 5 AND vec_id % 10 = 7
  UNION ALL
  SELECT vec_id,
         [0.0] || list_transform(embedding, x -> CAST(x AS DOUBLE))[2:64]
  FROM embeddings WHERE vec_id >= 5 AND vec_id % 20 = 4),
 merged AS MATERIALIZED (
  SELECT vec_id, v FROM base
  WHERE vec_id NOT IN (SELECT vec_id FROM delta)
  UNION ALL SELECT vec_id, v FROM delta),
 assign AS MATERIALIZED (
  SELECT vec_id, v, cand AS list_id FROM (
    SELECT m.vec_id, m.v, c.cand,
           row_number() OVER (PARTITION BY m.vec_id
                              ORDER BY {_sql_d2('m', 'c')}, c.cand) AS rn
    FROM merged m CROSS JOIN cl c) WHERE rn = 1),
 q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 5),
 qprobe AS (
  SELECT query_id, v AS qv, cand AS list_id FROM (
    SELECT q.query_id, q.v, c.cand,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_sql_d2('q', 'c')}, c.cand) AS rn
    FROM q CROSS JOIN cl c) WHERE rn = 1),
 scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(p.qv, a.v) + 1e-9, 4) AS cos
  FROM qprobe p JOIN assign a USING (list_id)),
 ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


@register(
    "ann_ivf_persisted",
    tags=("llm", "ann", "ivf", "txn", "index", "superset"),
    oracle=_ivf_persisted_oracle(),
)
def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED, incrementally-maintained IVF-Flat ANN index (VERDICT
    r13 #4 — every other ANN entry rebuilds its index per run; a real
    100-TB similarity pipeline builds ONCE and merges deltas). Composes
    the two r13/r14 axes:

    - the index — (vec_id, embedding, list_id) with a FROZEN coarse
      quantizer (one distributed Lloyd step from ``c0 = vec_id % K``
      over the base corpus, the vector_kmeans machinery) — lives in a
      :class:`TxnTable` (sources/txn_table.py), range-clustered on
      ``list_id`` so each parquet file covers a tight list slice;
    - a delta batch (held-out NEW vectors + UPDATED re-embeddings of
      every 20th id, assigned by the frozen quantizer — production
      retrain cadence is a separate rebuild, as for FAISS/Delta) lands
      via MERGE on vec_id; ``compact(cluster_by="list_id")`` then
      re-clusters the live set (OPTIMIZE ZORDER-lite) because merge
      output scatters list ranges across files;
    - queries (nprobe=1, the classic IVF fast path) are answered FROM
      THE PERSISTED INDEX ONLY: ``read(where={"list_id": ...})`` serves
      each probed list from a manifest-pruned file subset — the entry
      RAISES if the prune did not skip files (the 100-TB property is
      part of the contract), then exact-cosine re-ranks list members.

    The oracle replays the whole lifecycle (frozen quantizer, delta
    upsert, probe, re-rank) in DuckDB, so index persistence must be
    VALUE-invisible: a wrong merge, a stale list assignment, or a
    mis-pruned file flips rows. Scale shape: quantizer build is one
    k x dim partial-sum shuffle; assignment is a broadcast-closure numpy
    kernel; query cost is |probed lists| files, never the corpus."""
    import os
    import shutil
    import tempfile

    from pyblazing_spark.operators.similarity import (
        centroid_assign_with_dist,
        centroid_means,
    )
    from pyblazing_spark.sources.txn_table import TxnTable

    out_schema = "query_id long, neighbor_id long, cos double, rank int"
    emb = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.where((F.col("vec_id") >= 5) & (F.col("vec_id") % 10 != 7))
    init = base.withColumn("c0", (F.col("vec_id") % _K).cast("int"))
    ids, C = centroid_means(init, "embedding", "c0")
    if C.size == 0:  # empty corpus: typed zero-row contract
        return local_frame(spark, [], out_schema)

    def assigned(df: DataFrame) -> DataFrame:
        a = centroid_assign_with_dist(
            F.col("embedding"), C, cluster_ids=ids
        )
        return df.select("vec_id", "embedding", a.alias("__a")).select(
            "vec_id", "embedding", F.col("__a.cluster").alias("list_id")
        )

    out_dir = tempfile.mkdtemp(prefix="ann_ivf_persisted_")
    try:
        t = TxnTable.create(
            spark,
            os.path.join(out_dir, "ivf"),
            assigned(base).repartitionByRange(_K, "list_id"),
            key="vec_id",
        )
        new_v = emb.where(
            (F.col("vec_id") >= 5) & (F.col("vec_id") % 10 == 7)
        )
        upd_v = emb.where(
            (F.col("vec_id") >= 5) & (F.col("vec_id") % 20 == 4)
        ).select(
            "vec_id",
            F.concat(
                F.array(F.lit(0.0).cast("float")),
                F.slice("embedding", 2, 63),
            ).alias("embedding"),
        )
        t.merge(assigned(new_v.unionByName(upd_v)))
        t.compact(target_files=_K, cluster_by="list_id")
        qp = assigned(
            emb.where(F.col("vec_id") < 5).select(
                F.col("vec_id"), "embedding"
            )
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qv"),
            "list_id",
        )
        probe_lists = sorted(
            r["list_id"]
            for r in qp.select("list_id").distinct().collect()
        )  # bounded: <= 5 queries
        if not probe_lists:
            return local_frame(spark, [], out_schema)
        live = t._live_files()
        parts, touched = [], 0
        for lid in probe_lists:
            fr = t.read(where={"list_id": (lid, lid)})
            touched += len(fr.inputFiles())
            parts.append(fr)
        if len(live) > len(probe_lists) and touched >= len(live):
            raise AssertionError(
                f"probe reads scanned every file ({touched}/{len(live)}) "
                "— the persisted index's manifest prune is broken"
            )
        cand = parts[0]
        for p in parts[1:]:
            cand = cand.unionByName(p)
        scored = cand.join(F.broadcast(qp), "list_id").select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            VEC.nudge_round(
                VEC.cosine_udf(F.col("__qv"), F.col("embedding")), 4
            ).alias("cos"),
        )
        from pyspark.sql import Window as W

        w = W.partitionBy("query_id").orderBy(
            F.desc("cos"), F.col("neighbor_id")
        )
        # lifetime: the index files are read before out_dir is removed
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("query_id", "neighbor_id", "cos", "rank")
            .orderBy("query_id", "rank")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
