"""Connected components over near-duplicate pair graphs.

Greedy pair-drop dedup (remove ``id_b`` of every pair) under-merges
transitive chains: a~b, b~c with a<b<c drops b and c correctly, but
a~b, c~b (no a~c edge) must still collapse to ONE cluster. The correct
primitive is connected components; this module implements the standard
distributed min-label propagation (the simplified form of the
large-star/small-star MapReduce algorithm — Kiveris et al., "Connected
Components in MapReduce and Beyond", public literature):

repeat: every node takes the min label among itself and its neighbors.
Converges in O(graph diameter) rounds; near-dup graphs are unions of
small cliques/chains, so a handful of rounds suffices. Each round is
one shuffle of (node, label) longs — no text, no vectors.

Scale design (the round-2 weak spot, now fixed):

- every round's labels are ``persist``ed and the predecessor is
  unpersisted, so round *i* never re-executes rounds 1..*i-1*;
- every third round the labels are ``localCheckpoint``ed (eager),
  truncating the logical plan so the DAG stays O(interval) deep
  regardless of diameter;
- convergence is a single aggregation on the new labels, not a
  new-vs-old join: min-label propagation only ever DECREASES labels,
  so sum(label) is strictly monotone non-increasing and
  "sum unchanged" <=> "no label changed". The sum is taken as
  DECIMAL(38,0) so it is exact (no long overflow, no float fuzz).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyblazing_spark.session import (
    local_frame,
    loop_shuffle_confs,
    make_ckpt,
    scoped_conf,
)


def _label_stats(labels: DataFrame):
    """(row_count, exact label sum) in one job."""
    row = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return row["n"], row["s"]


#: Per-round shuffle sizing: a CC round shuffles two-long-column rows, so
#: ~100k rows (~1.6 MB) is the floor worth one task. The width is derived
#: from the MEASURED node/edge count (known from the convergence probe's
#: same job), clamped to 4x cluster parallelism: fixture-sized graphs run
#: single-task rounds (scheduling, not data, dominates them), 100 TB pair
#: graphs get full width.
_ROWS_PER_TASK = 100_000


def _loop_width_scope(spark, n_rows: int):
    """Conf scope, nested inside the loop's own, that narrows the round
    shuffles to the measured row count."""
    import math

    cap = max(1, spark.sparkContext.defaultParallelism * 4)
    width = max(1, min(cap, math.ceil(max(1, n_rows) / _ROWS_PER_TASK)))
    return scoped_conf(spark, {"spark.sql.shuffle.partitions": str(width)})


def _checkpointed_loop_scope(spark):
    """Conf scope of the checkpoint-per-round loops: cluster-parallelism
    shuffles (:func:`loop_shuffle_confs`) and constraint propagation off.
    A ``localCheckpoint``'d plan's LogicalRDD retains constraints that
    reference attributes pruned from its output, and the next round's
    self-union trips ``rewriteConstraints`` on the missing attribute
    (``NoSuchElementException: key not found: v#...``); the constraints
    buy nothing here — every per-round filter is explicit. The loop's
    checkpoint jobs AND its eager setup run inside the scope, so any
    failure (analysis error, OOM) still restores the caller's
    settings."""
    return scoped_conf(
        spark,
        {
            **loop_shuffle_confs(spark),
            "spark.sql.constraintPropagation.enabled": "false",
        },
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, component) for every node in ``edges``; component = min node
    id reachable through the undirected pair graph.

    ``checkpoint_dir`` selects reliable checkpointing for the loop's
    lineage truncation (see :func:`pyblazing_spark.session.make_ckpt`):
    pass a fault-tolerant FS path on long-running clusters so a lost
    executor can never strand the loop without recomputable lineage.

    The returned DataFrame is persisted (it is the last round's
    materialized labels); callers consume it immediately and the blocks
    are evicted LRU — at catalog scale it is two long columns.

    Raises if the label propagation hasn't converged after ``max_iter``
    rounds (diameter > max_iter) rather than returning a wrong answer.
    """
    spark = edges.sparkSession
    # one ckpt call per round, so make_ckpt's call-counted interval is
    # the round interval: persist (lineage kept, anchored at the last
    # truncation) between, truncate every third round.
    ckpt = make_ckpt(spark, checkpoint_dir, ckpt_interval=3)
    # The per-round (node,label) shuffles are sized to CLUSTER
    # PARALLELISM for the loop's duration (see loop_shuffle_confs) —
    # inheriting a fact-table-width spark.sql.shuffle.partitions makes
    # task scheduling, not data, the round cost. Restored on exit.
    with scoped_conf(spark, loop_shuffle_confs(spark)):
        sym = (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .unionAll(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
            .persist()
        )
        labels = (
            sym.select(F.col("u").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
            .persist()
        )
        n_nodes, prev_sum = _label_stats(labels)
        # Narrow the round shuffles to the measured graph size (the edge
        # pipeline above ran at the session's shuffle width).
        try:
            with _loop_width_scope(spark, n_nodes):
                for i in range(max_iter):
                    # min over self + neighbors in ONE join + one aggregation:
                    # neighbor labels (v's label keyed back to u) unioned with
                    # the node's own label, then groupBy min.
                    prop = sym.join(labels, sym["v"] == labels["id"]).select(
                        sym["u"].alias("id"), "label"
                    )
                    new_labels = (
                        prop.unionAll(labels)
                        .groupBy("id")
                        .agg(F.min("label").alias("label"))
                    )
                    # lazy checkpoint: the label-sum action below both
                    # MATERIALIZES it and truncates lineage — one job
                    # per round, not a checkpoint job plus a sum job.
                    new_labels = ckpt(new_labels, eager=False)
                    # materializes persist/checkpoint
                    _n, new_sum = _label_stats(new_labels)
                    labels.unpersist()
                    labels = new_labels
                    if new_sum == prev_sum:
                        return labels.select("id", F.col("label").alias("component"))
                    prev_sum = new_sum
                labels.unpersist()
                raise RuntimeError(
                    f"connected_components did not converge in {max_iter} rounds "
                    "(graph diameter too large — raise max_iter or switch to "
                    "large-star/small-star)"
                )
        finally:
            sym.unpersist()


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, component) via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the high-diameter scale path min-label propagation's error message
    points at. Converges in O(log^2 n) rounds worst case (O(log n) in
    practice) regardless of graph DIAMETER, where plain propagation
    needs O(diameter) rounds: a million-node path graph finishes in ~20
    rounds instead of a million.

    Per round: large-star hangs every neighbor v > u off m = min of
    u's closed neighborhood; small-star re-points the v <= u side at m.
    Both are one groupBy + one join over (long, long) edges; every
    half-round's edge set is eagerly ``localCheckpoint``ed (see the loop
    comment — plan trees grow ~9x per round, so persist alone blows up
    Catalyst). Convergence = edge-set checksum (count + sum of a 64-bit
    edge hash) unchanged after a full large+small round.

    Constraint propagation is disabled (and restored) around the loop;
    see :func:`_checkpointed_loop_scope`."""
    spark = edges.sparkSession
    with _checkpointed_loop_scope(spark):
        return _star_loop(spark, edges, src, dst, max_iter, checkpoint_dir)


def _star_loop(
    spark,
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    ckpt = make_ckpt(spark, checkpoint_dir)
    # localCheckpoint (not persist): the caller's edge plan (e.g. a full
    # MinHash-LSH pipeline) must not remain the lineage LEAF — the star
    # rounds reference E many times per round and Catalyst's Union
    # constraint rewriting over the replicated upstream tree blows up
    # before the first round finishes. After the checkpoint the loop
    # operates on a two-long-column leaf. (Checkpoint blocks are freed by
    # the ContextCleaner once the JVM RDD is unreferenced — unlike
    # persist, an explicit unpersist() cannot release them early.)
    E = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    E = ckpt(E)
    nodes = (
        E.select(F.col("u").alias("id"))
        .unionAll(E.select(F.col("v").alias("id")))
        .distinct()
        .persist()
    )

    def _closed_neighborhood(e: DataFrame) -> DataFrame:
        return (
            e.select("u", "v")
            .unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .unionAll(nodes.select(F.col("id").alias("u"), F.col("id").alias("v")))
        )

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # m = min of u's closed neighborhood via a WINDOW min, not
        # groupBy + self-join: one exchange on u instead of two, halving
        # the sequential stage depth of every round (the rounds are
        # latency-bound — each is a handful of two-long-column tasks).
        from pyspark.sql import Window

        g = _closed_neighborhood(e)
        w = Window.partitionBy("u")
        withm = g.select("u", "v", F.min("v").over(w).alias("m"))
        side = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        return (
            withm.where(side & (F.col("v") != F.col("m")))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .distinct()
        )

    def _checksum(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _checksum(E)
    # Narrow the round shuffles to the measured edge count (the caller's
    # edge pipeline ran at the session's shuffle width).
    with _loop_width_scope(spark, prev[0]):
        for _ in range(max_iter):
            # Each FULL round is localCheckpoint'ed, unlike the propagation
            # variant's persist-with-periodic-checkpoint: a star round
            # references its input ~3x in each of two branches
            # (closed-neighborhood union feeding both the min aggregate and
            # the join), so the LOGICAL plan tree grows ~9x per round even
            # under persist (persist caches results but not the tree) — by
            # round 4 Catalyst canonicalization alone OOMs the driver.
            # The large-star half is PERSISTED (not fused away): the
            # small-star plan references it twice (closed-neighborhood union
            # feeding both the min aggregate and the join), physical
            # common-subtree reuse is not guaranteed, and fusing both stars
            # into one lazy plan was measured to recompute the large-star
            # 2x. persist (lazy) rather than an eager checkpoint keeps the
            # whole round at ONE job: the checksum action computes the half
            # once into cache, reuses it for the second reference, and
            # materializes the round-end LAZY localCheckpoint, which
            # truncates lineage so the per-round plan tree stays a bounded
            # ~9x of an RDD leaf. Materialized state is two long columns per
            # round; the half cache is dropped explicitly, checkpoint blocks
            # by the ContextCleaner as round handles go unreferenced.
            half = _star(E, large=True).persist()
            new_e = ckpt(_star(half, large=False), eager=False)
            cur = _checksum(new_e)
            half.unpersist()
            E = new_e
            if cur == prev:
                # stars: every edge is (center, member) with center = min.
                # Materialized HERE (localCheckpoint) so the final plan —
                # which still unions/joins the stale-constraint
                # LogicalRDDs — is optimized while constraint propagation
                # is still off, not lazily after the caller's conf is
                # restored.
                members = E.select(
                    F.col("v").alias("id"), F.col("u").alias("component")
                )
                out = ckpt(
                    nodes.join(members, "id", "left").select(
                        "id",
                        F.coalesce("component", F.col("id")).alias("component"),
                    )
                )
                nodes.unpersist()
                return out
            prev = cur
    nodes.unpersist()
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} rounds"
    )


def kcore_peel_summary(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "s1",
    dst: str = "s2",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded synchronous k-core peeling over an undirected edge list
    (one row per edge, ``src < dst``): each round simultaneously removes
    EVERY node whose current degree is below ``k``, then drops the edges
    that touched one. Synchronous removal makes the result independent
    of any tie-break order, so a fixed round count is deterministic.

    Returns one row per round — ``(round, n_removed, n_nodes, n_edges)``
    with node/edge counts AFTER that round's peel — the shape degree-
    distribution monitoring wants (how fast does the corpus graph shed
    its periphery?). Full k-core = run until ``n_removed`` hits 0.

    Scale design: mirrors the CC loops above — each round is one degree
    aggregation (two-long rows) plus two left-anti joins against the
    removed-node set, sized to cluster parallelism via
    ``loop_shuffle_confs``; every round's edge survivor set is eagerly
    ``localCheckpoint``ed so round *i* never re-executes rounds
    1..*i-1* and the plan tree stays O(1) deep. Constraint propagation
    is disabled for the loop's duration for the LogicalRDD self-union
    reason documented on :func:`_checkpointed_loop_scope` (the degree
    pass unions ``src`` and ``dst`` projections of the same checkpointed
    plan). ``checkpoint_dir`` selects reliable (FS-backed)
    checkpointing — see :func:`pyblazing_spark.session.make_ckpt`."""
    if k < 1 or rounds < 1:
        raise ValueError("k and rounds must be >= 1")
    spark = edges.sparkSession
    ckpt = make_ckpt(spark, checkpoint_dir)
    with _checkpointed_loop_scope(spark):
        cur = ckpt(edges.select(src, dst))
        summaries = []
        for r in range(1, rounds + 1):
            deg = (
                cur.select(F.col(src).alias("node"))
                .unionAll(cur.select(F.col(dst).alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("deg"))
            )
            removed = ckpt(deg.where(F.col("deg") < k).select("node"))
            cur = ckpt(
                cur.join(removed, cur[src] == removed["node"], "left_anti")
                .join(removed, cur[dst] == removed["node"], "left_anti")
            )
            n_nodes = (
                cur.select(F.col(src).alias("node"))
                .unionAll(cur.select(F.col(dst).alias("node")))
                .agg(F.countDistinct("node").alias("n_nodes"))
            )
            summaries.append(
                removed.agg(F.count(F.lit(1)).alias("n_removed"))
                .crossJoin(n_nodes)
                .crossJoin(cur.agg(F.count(F.lit(1)).alias("n_edges")))
                .select(
                    F.lit(r).cast("int").alias("round"),
                    "n_removed",
                    "n_nodes",
                    "n_edges",
                )
            )
        out = summaries[0]
        for s in summaries[1:]:
            out = out.unionAll(s)
        # materialize inside the scope so the disabled-constraint plans
        # never escape into a caller running under default confs (stays
        # a LOCAL checkpoint even in reliable mode: the summary is
        # rounds-sized and consumed immediately)
        return out.orderBy("round").localCheckpoint(eager=True)


def _scc_rollup(e: DataFrame, assign: DataFrame, top: int) -> DataFrame:
    """Top-``top`` component summary shared by both SCC algorithms:
    ``assign`` is the (node, scc_id) map, ``e`` the DISTINCT directed
    edge list; emits (scc_id, n_nodes, node_sum, n_internal_edges)
    ordered by size."""
    internal = (
        e.join(
            assign.select(F.col("node").alias("u"), F.col("scc_id").alias("__cu")),
            "u",
        )
        .join(
            assign.select(F.col("node").alias("v"), F.col("scc_id").alias("__cv")),
            "v",
        )
        .where(F.col("__cu") == F.col("__cv"))
        .groupBy(F.col("__cu").alias("scc_id"))
        .agg(F.count(F.lit(1)).alias("__ie"))
    )
    return (
        assign.groupBy("scc_id")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("node").cast("long").alias("node_sum"),
        )
        .join(internal, "scc_id", "left")
        .select(
            "scc_id",
            "n_nodes",
            "node_sum",
            F.coalesce("__ie", F.lit(0)).cast("long").alias("n_internal_edges"),
        )
        .orderBy(F.desc("n_nodes"), "scc_id")
        .limit(top)
    )


def _tarjan_min_label(pairs: list[tuple]) -> dict:
    """Exact SCC of a directed edge list via iterative Tarjan
    (public-literature algorithm); returns {node: min node of its SCC}.
    Linear in V+E; node ids must be non-null and mutually orderable."""
    adj: dict = {}
    nodes: set = set()
    for a, b in pairs:
        nodes.update((a, b))
        if a != b:
            adj.setdefault(a, []).append(b)
    index: dict = {}
    low: dict = {}
    on: set = set()
    stack: list = []
    comp: dict = {}
    counter = 0

    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on.add(v)
            descended = False
            succ = adj.get(v, ())
            for i in range(pi, len(succ)):
                w = succ[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    descended = True
                    break
                if w in on:
                    low[v] = min(low[v], index[w])
            if descended:
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on.discard(w)
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp[w] = m
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
    return comp


def scc_summary(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    top: int = 20,
) -> DataFrame:
    """Strongly connected components of a DIRECTED edge list over a
    BOUNDED node domain. The distributed work is the projection +
    ``distinct`` that quotients the (possibly fact-scale) input down to
    the bounded edge set; the SCC itself runs driver-side as exact
    iterative Tarjan over the collected distinct edges, and the
    (node → min-node-of-SCC) assignment and the collected edges are
    shipped back as small Arrow-built local frames
    (:func:`pyblazing_spark.session.local_frame` — no Python-worker
    task on any rollup scan) feeding the same distributed rollup
    (``scc_id(u) = min({u} ∪ {v : u→*v and v→*u})`` — nodes with no
    cycle through them become singletons).

    Returns the ``top`` components by ``(n_nodes DESC, scc_id)``:
    ``(scc_id, n_nodes, node_sum, n_internal_edges)``.

    Scale contract — read before reusing: the collected distinct edge
    set is O(N²) pairs for N domain values, so this operator is for
    node domains that are bounded by construction (modular bucket
    projections, enum-valued states, dimension keys) — a few million
    pairs at most, bounded in practice by
    ``spark.driver.maxResultSize``. Node ids must be non-null.
    Corpus-scale SCC over unbounded node sets is
    :func:`scc_pivot_fwbw` — a different algorithm, not a bigger
    version of this one; the honest split mirrors embedding_pairs
    (bounded brute) vs embedding_pairs_lsh (scale).

    r15 note (guide §1.2 — fix the distributed algorithm first): the
    former implementation materialized the O(N²) transitive closure IN
    SPARK (reach-doubling self-joins, ~2 jobs x rounds plus an O(N²)
    mutual self-join) to avoid collecting a bounded edge list ~N² times
    SMALLER than that closure. Collecting the distinct edges once and
    running linear-time Tarjan costs less than a single closure round
    and is exact for any diameter."""
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    if e.schema[0].dataType != e.schema[1].dataType:
        # mirror the union coercion the former nodes-frame applied
        # (analysis-time only, no job)
        common = (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .schema[0]
            .dataType
        )
        e = e.select(
            F.col("u").cast(common).alias("u"),
            F.col("v").cast(common).alias("v"),
        )
    # one job: the distinct's map-side partial aggregation makes the
    # collect the bounded quotient edge set, never the raw input
    pairs = [(r[0], r[1]) for r in e.collect()]
    comp = _tarjan_min_label(pairs)
    from pyspark.sql.types import StructField, StructType

    u_t, v_t = e.schema[0].dataType, e.schema[1].dataType
    node_t = u_t  # scc ids inherit the source-endpoint type
    assign = local_frame(
        spark,
        comp.items(),
        StructType(
            [StructField("node", node_t), StructField("scc_id", node_t)]
        ),
    )
    # rollup over the ALREADY-COLLECTED pairs re-created as a local
    # DataFrame: the rollup must not re-execute the fact-scale distinct
    local_e = local_frame(
        spark,
        pairs,
        StructType([StructField("u", u_t), StructField("v", v_t)]),
    )
    # assign is node-domain-sized (bounded by this operator's contract):
    # the hint keeps the rollup's two assign-probes broadcast even where
    # its size exceeds a session's autoBroadcastJoinThreshold
    return _scc_rollup(local_e, F.broadcast(assign), top)


def bfs_distance_histogram(
    edges: DataFrame,
    seed_mod: int,
    rounds: int,
    src: str = "s1",
    dst: str = "s2",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded multi-source BFS over an undirected edge list: seeds are
    nodes with ``node % seed_mod == 0`` at distance 0; each synchronous
    round relaxes ``dist[v] = min(dist[v], dist[u] + 1)`` over every
    edge, so after ``rounds`` rounds each node holds its exact hop
    distance if it is within ``rounds`` hops of a seed. Returns the
    distance histogram ``(dist, n_nodes, min_node, node_sum)`` with
    unreached nodes at dist = -1 — the reachability profile used to
    size crawl frontiers and k-hop feature neighborhoods.

    Scale design: same loop hygiene as :func:`kcore_peel_summary` —
    per round ONE join of the (node, dist) frontier table against the
    edge list plus a min-aggregation, both on single-long keys; every
    round's distance table is eagerly ``localCheckpoint``ed (O(1) plan
    depth) and constraint propagation is scoped off for the
    checkpointed self-union."""
    if rounds < 1 or seed_mod < 1:
        raise ValueError("rounds and seed_mod must be >= 1")
    spark = edges.sparkSession
    ckpt = make_ckpt(spark, checkpoint_dir)
    with _checkpointed_loop_scope(spark):
        und = edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v")
        ).unionAll(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        e = ckpt(und)
        nodes = ckpt(e.select(F.col("u").alias("node")).distinct())
        seeds = ckpt(
            nodes.where(F.col("node") % seed_mod == 0).select("node")
        )
        d = ckpt(seeds.select("node", F.lit(0).cast("long").alias("dist")))
        # Frontier relaxation: only nodes labeled in round r-1 expand in
        # round r (their neighbors not yet in d get dist r).  Equivalent
        # to whole-table min-relaxation for unweighted BFS — a node's
        # first-reached round IS its distance — but each round joins the
        # edge list against the (shrinking) frontier instead of the
        # whole distance table: on dense graphs the frontier collapses
        # after round 1 and later rounds are near-free (10x probe:
        # 36.5 s full-table form -> 11-15 s warm, and most of the
        # remainder is the shared co-occurrence edge build).
        frontier = seeds
        for r in range(1, rounds + 1):
            newly = ckpt(
                e.join(frontier, e["u"] == frontier["node"])
                .select(F.col("v").alias("node"))
                .distinct()
                .join(d, "node", "left_anti")
            )
            # ONE materializing job per round (r15, the SCC-loop
            # doctrine): d stays a LAZY flat union of the per-round
            # checkpointed frontier blocks — plan depth is bounded by
            # `rounds`, nothing recomputes (every leg is an RDD scan),
            # and the old per-round re-materialization of the whole
            # distance table (a second eager checkpoint job + a full
            # rewrite of blocks that never change) disappears.
            d = d.unionAll(
                newly.select("node", F.lit(r).cast("long").alias("dist"))
            )
            frontier = newly
        fin = nodes.join(d, "node", "left").select(
            "node", F.coalesce("dist", F.lit(-1)).cast("int").alias("dist")
        )
        out = (
            fin.groupBy("dist")
            .agg(
                F.count(F.lit(1)).alias("n_nodes"),
                F.min("node").alias("min_node"),
                F.sum("node").alias("node_sum"),
            )
            .orderBy("dist")
        )
        # materialize inside the scope (see kcore_peel_summary)
        return out.localCheckpoint(eager=True)


def scc_pivot_fwbw(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_outer: int = 12,
    max_rounds: int = 64,
    trim_rounds: int = 4,
    top: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Strongly connected components for UNBOUNDED node domains: trim +
    two-sided min-label propagation (Yan et al., "Pregel Algorithms for
    Graph Connectivity Problems with Performance Guarantees", PVLDB
    2014). Never materializes a transitive closure and never collects
    the edge set to the driver (as :func:`scc_summary` does):
    O(edges x rounds). Per wave:

    1. **trim** — a node with no in-edge or no out-edge cannot sit on a
       cycle: emitted as a singleton SCC (up to ``trim_rounds`` sweeps;
       trimming eats the acyclic periphery that dominates real graphs);
    2. **propagate** — in the SAME synchronous rounds every active node
       computes ``f(v)`` = the minimum id that reaches ``v`` and
       ``b(v)`` = the minimum id reachable from ``v`` (frontier form:
       only labels improved last round are sent);
    3. **resolve** — nodes with ``f == b`` are emitted with
       ``scc_id = f``; the rest start the next wave inside their
       ``(f, b)`` cell.

    Correctness: if ``f(v) = b(v) = c``, then ``c`` reaches ``v`` and
    ``v`` reaches ``c``, so ``c`` is in SCC(v). Every member of SCC(v)
    reaches ``v``, so ``c`` is the minimum of SCC(v) — the ``scc_id``
    convention shared with :func:`scc_summary` and the recursive-CTE
    oracles, with no ``groupBy(min)`` and no join. All members of an
    SCC reach, and are reached by, the same ids, so they share
    ``(f, b)`` and an SCC is emitted whole.

    Cells: every SCC lies inside one ``(f, b)`` cell, so dropping
    cross-cell edges loses no SCC. ``f`` and ``b`` are ids from ``v``'s
    own cell, so the pair alone names the next cell.

    Progress: the minimum-id node of each cell has ``f = b = itself``,
    so every cell loses at least one SCC per wave. ``max_rounds`` bounds
    one wave's propagation and ``max_outer`` the waves (deeply nested
    chains of SCCs); both raise, naming the limit to raise, rather than
    running forever or returning a wrong answer.

    Jobs: one per round — the round's state is checkpointed lazily and
    a single aggregate over it returns both the "improved" and the
    "resolved" counts, so the remaining-node count follows from counts
    already in hand. Same loop hygiene as the other iterative
    operators: every round's state is checkpoint-truncated
    (``checkpoint_dir=`` selects reliable FS checkpoints,
    :func:`pyblazing_spark.session.make_ckpt`), constraint propagation
    scoped off, shuffles sized to cluster parallelism. Output shape
    matches :func:`scc_summary`.
    """
    spark = edges.sparkSession
    ckpt = make_ckpt(spark, checkpoint_dir)
    with _checkpointed_loop_scope(spark):
        # e_all keeps self-loops: they count as internal edges in the
        # rollup (matching scc_summary and the recursive-CTE oracles)
        # and a self-loop-only node is still a (singleton) component;
        # the TRAVERSAL uses e0 without them — a self-loop never
        # changes SCC membership and only pads every frontier. Hashed
        # on u, so the distinct and every later join on u (each round's
        # forward step, the rollup) reuse one exchange.
        e_all = ckpt(
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .repartition("u")
            .distinct()
        )
        # Loop expressions are SQL strings: every PySpark Column call
        # records its Python call site over several py4j round trips
        # (about 0.5 ms per call on a 4-core host: the four calls of
        # (F.col("u") < F.col("v")).alias("x") took 4.6 ms with the
        # capture and 2.7 ms without), which made plan construction
        # about half of a fixture-sized round.
        #
        # plain filter over e_all's checkpointed blocks — a second
        # edge-scale checkpoint materialization bought nothing (r15)
        e0 = e_all.where("u != v")
        active = ckpt(
            e_all.selectExpr("u AS node")
            .unionAll(e_all.selectExpr("v AS node"))
            .distinct(),
            eager=False,
        )
        remaining = active.count()
        # emitted (node, scc_id) pieces: each derives from an already-
        # checkpointed frame, so deferring the union to the end keeps
        # the final plan a flat union of shallow subtrees
        done_parts: list[DataFrame] = []
        null = f"CAST(NULL AS {active.schema['node'].dataType.simpleString()})"
        # Wave 0's active set holds every endpoint of e0 by
        # construction, so it traverses e0 unrestricted; each later wave's edges are
        # restricted to their cells when the previous wave resolves.
        ea = e0
        for _outer in range(max_outer):
            for _ in range(trim_rounds):
                # one edge pass with map-side partial aggregation:
                # keep = nodes with BOTH an out- and an in-edge
                keep = (
                    ea.selectExpr("u AS node", "1 AS o", "0 AS i")
                    .unionAll(ea.selectExpr("v AS node", "0 AS o", "1 AS i"))
                    .groupBy("node")
                    .agg(F.expr("max(o) AS o"), F.expr("max(i) AS i"))
                    .where("o = 1 AND i = 1")
                )
                trimmed = ckpt(
                    active.join(keep, "node", "left_anti"), eager=False
                )
                n_trimmed = trimmed.count()
                if n_trimmed == 0:
                    break
                remaining -= n_trimmed
                done_parts.append(trimmed.selectExpr("node", "node AS scc_id"))
                active = ckpt(active.join(trimmed, "node", "left_anti"))
                ea = ckpt(
                    ea.join(trimmed.selectExpr("node AS u"), "u", "left_anti")
                    .join(trimmed.selectExpr("node AS v"), "v", "left_anti")
                )
            if remaining == 0:
                break
            # ---- two-sided min-label propagation to fixpoint; forward
            # labels travel u -> v, backward labels v -> u, and one
            # union feeds a single aggregation exchange for both
            state = active.selectExpr(
                "node", "node AS f", "node AS b", "true AS fi", "true AS bi"
            )
            for _ in range(max_rounds):
                cand = (
                    ea.join(state.where("fi").selectExpr("node AS u", "f AS nf"), "u")
                    .selectExpr("v AS node", "nf", f"{null} AS nb")
                    .unionAll(
                        ea.join(
                            state.where("bi").selectExpr("node AS v", "b AS nb"), "v"
                        ).selectExpr("u AS node", f"{null} AS nf", "nb")
                    )
                    .groupBy("node")
                    .agg(F.expr("min(nf) AS nf"), F.expr("min(nb) AS nb"))
                )
                # least() skips NULLs, so a node with no incoming label
                # keeps its own (never a constant filler: ids may be
                # negative); a NULL comparison is "not improved"
                state = ckpt(
                    state.join(cand, "node", "left").selectExpr(
                        "node",
                        "least(f, nf) AS f",
                        "least(b, nb) AS b",
                        "coalesce(nf < f, false) AS fi",
                        "coalesce(nb < b, false) AS bi",
                    ),
                    eager=False,
                )
                improved, resolved = state.selectExpr(
                    "count_if(fi OR bi)", "count_if(f = b)"
                ).first()
                if improved == 0:
                    break
            else:
                raise RuntimeError(
                    f"scc_pivot_fwbw: label propagation exceeded {max_rounds} "
                    "rounds (graph depth too large — raise max_rounds)"
                )
            done_parts.append(state.where("f = b").selectExpr("node", "f AS scc_id"))
            remaining -= resolved
            if remaining == 0:
                break
            # ---- next wave: the unresolved nodes, and the edges inside
            # their (f, b) cells
            nxt = state.where("f != b")
            active = nxt.select("node")
            ea = ckpt(
                ea.join(nxt.selectExpr("node AS u", "f", "b"), "u")
                .join(nxt.selectExpr("node AS v", "f", "b"), ["v", "f", "b"])
                .select("u", "v")
            )
        if remaining > 0:
            raise RuntimeError(
                f"scc_pivot_fwbw did not decompose the graph in {max_outer} "
                "trim+propagate waves (deeply nested SCC chain — raise "
                "max_outer)"
            )
        if not done_parts:  # empty edge set: stable empty schema
            return local_frame(
                spark,
                [],
                "scc_id long, n_nodes long, node_sum long, n_internal_edges long",
            )
        done = done_parts[0]
        for part_df in done_parts[1:]:
            done = done.unionAll(part_df)
        out = _scc_rollup(e_all, done, top)
        # materialize inside the scope (disabled-constraint plans must
        # not escape into callers running under default confs)
        return out.localCheckpoint(eager=True)
