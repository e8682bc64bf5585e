"""Distributed analytics operators: Pareto frontier (skyline) and
weighted PageRank. Driver extensions beyond the reference surface (the
reference has no skyline or graph operators — SURVEY.md §2.9); both are
composed purely from DataFrame primitives so Catalyst plans them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyblazing_spark.operators.global_window import global_prefix_max


def pareto_frontier_2d(pts: DataFrame, min_col: str, max_col: str) -> DataFrame:
    """Skyline over distinct (min_col, max_col) points: minimize the
    first, maximize the second; a point survives iff no other point is
    <= on the minimized axis AND >= on the maximized axis with at least
    one strict inequality.

    Sweep formulation: in (min_col asc, max_col desc) order a point
    survives iff its max_col strictly exceeds the running maximum over
    all strictly-preceding points. O(n log n), no pairwise comparison —
    and the running maximum is the two-phase
    :func:`pyblazing_spark.operators.global_window.global_prefix_max`,
    never one global window task:

    1. deterministic range-bucketing on min_col (equal min_col values
       land in one bucket, so every row in an earlier bucket strictly
       precedes every row in a later one);
    2. per-bucket local running max (``Window.partitionBy(bucket)``);
    3. each bucket's max over the earlier buckets, collected once and
       folded into the plan as a literal — the cross-bucket part of the
       running maximum.

    The data path is exchange → sort → window → filter; equality with
    the serial single-window sweep is pinned in
    tests/test_analytics_property.py.
    """
    distinct = pts.select(min_col, max_col).distinct()
    swept = global_prefix_max(
        distinct, [min_col, F.desc(max_col)], max_col, "__run_max"
    )
    return swept.where(
        F.col("__run_max").isNull() | (F.col(max_col) > F.col("__run_max"))
    ).drop("__run_max")


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Weighted PageRank over an edge list ``(src, dst, w)``; returns
    ``(node, rank)`` for every node appearing as src or dst. Dangling
    mass is NOT redistributed (callers' graphs here always have
    out-edges everywhere; the choice is part of the operator contract
    and mirrored by the entries' oracles).

    Scale plan: ``edges`` should already be the AGGREGATED graph (one
    row per src→dst). Each round joins rank⋈edges on src and
    re-aggregates on dst; rank/degree tables are node-sized and
    broadcast, and every round's result is ``localCheckpoint``ed so
    lineage stays flat (the iterative-loop discipline from
    operators/graph.py). An empty edge set returns an empty result
    with a stable schema.
    """
    from pyblazing_spark.session import make_ckpt

    ckpt = make_ckpt(edges.sparkSession, checkpoint_dir)
    edges = edges.persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = float(nodes.count())
    if n_nodes == 0:  # empty graph: stable schema, zero rows
        edges.unpersist()
        nodes.unpersist()
        return nodes.select(
            F.col("node").cast("bigint").alias("node"),
            F.lit(0.0).alias("rank"),
        )
    degree = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    rank = nodes.select("node", (F.lit(1.0) / F.lit(n_nodes)).alias("rank"))
    for _ in range(iterations):
        contrib = (
            edges.join(F.broadcast(degree), "src")
            .join(F.broadcast(rank), F.col("src") == F.col("node"))
            .select(
                "dst", (F.col("rank") * F.col("w") / F.col("out_w")).alias("contrib")
            )
        )
        incoming = contrib.groupBy("dst").agg(F.sum("contrib").alias("mass"))
        rank = nodes.join(incoming, nodes.node == incoming.dst, "left").select(
            "node",
            (
                F.lit((1 - damping) / n_nodes)
                + damping * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("rank"),
        )
        rank = ckpt(rank)
    out = rank.select(F.col("node").cast("bigint").alias("node"), "rank")
    edges.unpersist()
    nodes.unpersist()
    return out
