"""Property-based equivalence tests for the iterative graph/dedup
operators against brute-force pure-Python references: hypothesis drives
random small inputs through the FULL distributed implementations (real
Spark jobs), so shrinker output is a minimal failing graph/corpus, not
a 500-doc fixture. Example counts are small — each example costs
several Spark jobs — but the input space (arbitrary topologies,
arbitrary shared substrings) is exactly what the fixed fixtures can't
cover."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


def _ref_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find with attach-larger-root-under-smaller: every node's
    final root is the minimum id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@st.composite
def _graph(draw):
    n_edges = draw(st.integers(min_value=1, max_value=25))
    edges = []
    for _ in range(n_edges):
        a = draw(st.integers(min_value=1, max_value=15))
        b = draw(st.integers(min_value=1, max_value=15))
        if a == b:
            continue  # dedup pair graphs never contain self-pairs
        edges.append((min(a, b), max(a, b)))
    return edges or [(1, 2)]


@settings(max_examples=6, deadline=None)
@given(_graph())
def test_connected_components_match_union_find(spark, edges):
    from pyblazing_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame(edges, "id_a long, id_b long").distinct()
    want = _ref_components(edges)
    for fn in (connected_components, connected_components_star):
        got = {r["id"]: r["component"] for r in fn(df).collect()}
        assert got == want, (fn.__name__, sorted(edges))


def _ref_span_coverage(
    docs: list[tuple[int, str]], k: int, m: int
) -> dict[int, int]:
    """Single-node replay of duplicated_span_coverage: every k-gram,
    md5-60bit hash, mod-m content selection, cross-doc duplicate
    detection, exact interval union."""
    def hv(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16)

    sel: dict[int, list[tuple[int, int]]] = {}
    by_h: dict[int, set[int]] = {}
    for i, t in docs:
        for p in range(len(t) - k + 1):
            h = hv(t[p : p + k])
            if h % m == 0:
                sel.setdefault(i, []).append((p + 1, h))
                by_h.setdefault(h, set()).add(i)
    dup = {h for h, ids in by_h.items() if len(ids) >= 2}
    out: dict[int, int] = {}
    for i, t in docs:
        marks = sorted(p for p, h in sel.get(i, []) if h in dup)
        covered, end = 0, 0
        for p in marks:
            covered += max(0, (p + k) - max(p, end))
            end = max(end, p + k)
        out[i] = covered
    return out


@st.composite
def _corpus(draw):
    n = draw(st.integers(min_value=2, max_value=4))
    # tiny alphabet makes shared >=k substrings likely without planting
    docs = []
    for i in range(n):
        t = draw(st.text(alphabet="abc ", min_size=0, max_size=48))
        docs.append((i + 1, t))
    # plant one shared block at arbitrary offsets so the duplicated
    # path is exercised in most examples, not just by alphabet luck
    block = draw(st.text(alphabet="xyz", min_size=8, max_size=16))
    if draw(st.booleans()) and len(docs) >= 2:
        docs[0] = (1, docs[0][1] + block)
        docs[1] = (2, block + docs[1][1])
    return docs


@settings(max_examples=5, deadline=None)
@given(_corpus())
def test_span_coverage_matches_reference(spark, docs):
    from pyblazing_spark.operators.dedup import duplicated_span_coverage

    k, m = 8, 2
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["dup_chars"]
        for r in duplicated_span_coverage(df, k=k, sample_mod=m).collect()
    }
    want = _ref_span_coverage(docs, k, m)
    assert got == want, docs


def _ref_kcore_rounds(edges, k, rounds):
    """Pure-Python synchronous peel: per round drop ALL nodes with
    deg < k at once, then their edges."""
    E = set(edges)
    out = []
    for _ in range(rounds):
        deg = {}
        for a, b in E:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        rm = {n for n, d in deg.items() if d < k}
        E = {(a, b) for (a, b) in E if a not in rm and b not in rm}
        nodes = {n for e in E for n in e}
        out.append((len(rm), len(nodes), len(E)))
    return out


@settings(max_examples=5, deadline=None)
@given(_graph(), st.integers(min_value=1, max_value=4))
def test_kcore_peel_matches_reference(spark, edges, k):
    from pyblazing_spark.operators.graph import kcore_peel_summary

    edges = sorted(set(edges))
    df = spark.createDataFrame(edges, "s1 long, s2 long")
    got = [
        (r.n_removed, r.n_nodes, r.n_edges)
        for r in kcore_peel_summary(df, k=k, rounds=3).orderBy("round").collect()
    ]
    assert got == _ref_kcore_rounds(edges, k, 3)


# ---- shared co-occurrence helper (round 8: one-shuffle pair expansion)


def _ref_cooccurrence(
    rows: list[tuple[int, int]], min_orders: int
) -> set[tuple[int, int]]:
    """Per-order DISTINCT key sets -> ordered pairs counted once per
    order -> threshold (the semantic _cosupply_edges pins)."""
    from collections import defaultdict

    per_order: dict[int, set[int]] = defaultdict(set)
    for ok, key in rows:
        per_order[ok].add(key)
    counts: dict[tuple[int, int], int] = defaultdict(int)
    for keys in per_order.values():
        ks = sorted(keys)
        for i in range(len(ks)):
            for j in range(i + 1, len(ks)):
                counts[(ks[i], ks[j])] += 1
    return {p for p, c in counts.items() if c >= min_orders}


@st.composite
def _order_rows(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    # duplicates of (order, key) are deliberately allowed: a key on
    # several lineitems of one order must still count that order ONCE
    return [
        (
            draw(st.integers(min_value=1, max_value=6)),
            draw(st.integers(min_value=1, max_value=8)),
        )
        for _ in range(n)
    ]


@settings(max_examples=6, deadline=None)
@given(_order_rows(), st.integers(min_value=1, max_value=3))
def test_cosupply_edges_matches_per_order_reference(spark, tmp_path_factory, rows, k):
    import pyblazing_spark.plans.retrieval as R

    d = str(tmp_path_factory.mktemp("cooc"))
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_suppkey bigint"
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    got = {
        (r.s1, r.s2)
        for r in R._cosupply_edges(spark, d, min_orders=k).collect()
    }
    assert got == _ref_cooccurrence(rows, k), (rows, k)


def _ref_bfs_hist(
    edges: list[tuple[int, int]], seed_mod: int, rounds: int
) -> dict[int, tuple[int, int, int]]:
    """Pure-Python bounded multi-source BFS distance histogram:
    dist -> (n_nodes, min_node, node_sum), unreached at -1."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {n: (0 if n % seed_mod == 0 else -1) for n in adj}
    frontier = {n for n, d in dist.items() if d == 0}
    for r in range(1, rounds + 1):
        nxt = set()
        for u in frontier:
            for v in adj[u]:
                if dist[v] == -1:
                    dist[v] = r
                    nxt.add(v)
        frontier = nxt
    hist: dict[int, tuple[int, int, int]] = {}
    for n, d in dist.items():
        c, mn, s = hist.get(d, (0, n, 0))
        hist[d] = (c + 1, min(mn, n), s + n)
    return hist


@settings(max_examples=6, deadline=None)
@given(_graph(), st.sampled_from([2, 3, 5]))
def test_bfs_distance_histogram_matches_python_bfs(spark, edges, seed_mod):
    from pyblazing_spark.operators.graph import bfs_distance_histogram

    df = spark.createDataFrame(edges, "s1 long, s2 long").distinct()
    got = {
        r["dist"]: (r["n_nodes"], r["min_node"], r["node_sum"])
        for r in bfs_distance_histogram(df, seed_mod=seed_mod, rounds=3).collect()
    }
    want = _ref_bfs_hist(set(edges), seed_mod, 3)
    assert got == want, (sorted(set(edges)), seed_mod)


def test_reliable_checkpoint_mode_matches_local(spark, tmp_path):
    """checkpoint_dir= switches every iterative loop's lineage
    truncation from localCheckpoint (executor blocks) to a RELIABLE
    filesystem checkpoint. Results must be identical to local mode, and
    the snapshots must actually land in the directory — the property a
    1000-executor deployment depends on (an executor dying mid-loop
    recovers from the FS, not from evicted lineage)."""
    import os

    from pyspark.sql import functions as F

    from pyblazing_spark.operators.analytics import pagerank
    from pyblazing_spark.operators.graph import (
        bfs_distance_histogram,
        connected_components,
        connected_components_star,
        kcore_peel_summary,
        scc_pivot_fwbw,
    )

    # a chain + a clique + an isolated pair: multi-round convergence
    edges = [(i, i + 1) for i in range(1, 8)] + [
        (10, 11), (10, 12), (11, 12), (20, 21),
    ]
    e = spark.createDataFrame(edges, "id_a long, id_b long")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    d = str(tmp_path / "ck")

    got = rows(connected_components(e, checkpoint_dir=d))
    assert got == rows(connected_components(e))
    # the reliable snapshots actually hit the filesystem
    snap = [os.path.join(dp, f) for dp, _, fs in os.walk(d) for f in fs]
    assert snap, "reliable mode wrote no checkpoint files"

    assert rows(connected_components_star(e, checkpoint_dir=d)) == rows(
        connected_components_star(e)
    )
    ek = e.select(F.col("id_a").alias("s1"), F.col("id_b").alias("s2"))
    assert rows(kcore_peel_summary(ek, k=2, rounds=2, checkpoint_dir=d)) == rows(
        kcore_peel_summary(ek, k=2, rounds=2)
    )
    assert rows(bfs_distance_histogram(ek, seed_mod=5, rounds=3,
                                       checkpoint_dir=d)) == rows(
        bfs_distance_histogram(ek, seed_mod=5, rounds=3)
    )
    pe = e.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"),
        F.lit(1.0).alias("w"),
    )
    assert rows(pagerank(pe, iterations=3, checkpoint_dir=d)) == rows(
        pagerank(pe, iterations=3)
    )

    # SCC: two cycles (8→1, 12→10 close them), a trimmed pair, and two
    # chained 2-cycles that split into cells for a second wave — every
    # lazily checkpointed round must still land on the filesystem
    se = spark.createDataFrame(
        edges + [(8, 1), (12, 10), (30, 31), (31, 30), (31, 32), (32, 33), (33, 32)],
        "u long, v long",
    )

    def rdd_dirs():
        return {dp for dp, _, _ in os.walk(d) if os.path.basename(dp).startswith("rdd-")}

    seen = rdd_dirs()
    assert rows(scc_pivot_fwbw(se, checkpoint_dir=d)) == rows(scc_pivot_fwbw(se))
    assert rdd_dirs() - seen, "reliable SCC wrote no checkpoint files"


def _ref_scc(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Iterative Tarjan; scc_id = min node of the component."""
    adj: dict[int, list[int]] = {}
    nodes: set[int] = set()
    for a, b in edges:
        nodes.update((a, b))
        if a != b:
            adj.setdefault(a, []).append(b)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on: set[int] = set()
    stack: list[int] = []
    comp: dict[int, int] = {}
    counter = [0]

    def strongconnect(v0: int) -> None:
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on.add(v)
            recurse = False
            succ = adj.get(v, [])
            for i in range(pi, len(succ)):
                w = succ[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            # all successors done: close v
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

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    return comp


@st.composite
def _digraph(draw):
    # ids straddle zero: the coloring loop once coalesced missing
    # updates to literal 0, silently corrupting negative-id labels —
    # the range pins that regression (round-11 self-review)
    n_edges = draw(st.integers(min_value=1, max_value=30))
    edges = []
    for _ in range(n_edges):
        a = draw(st.integers(min_value=-6, max_value=6))
        b = draw(st.integers(min_value=-6, max_value=6))
        edges.append((a, b))
    return edges


@settings(max_examples=6, deadline=None)
@given(_digraph())
def test_scc_pivot_fwbw_matches_tarjan(spark, edges):
    """Pivot FW-BW (trim + multi-pivot forward/backward BFS) on
    arbitrary small digraphs — incl. self-loops, parallel edges, and
    chain-of-cycles topologies the fixture entry can't produce — must
    reproduce Tarjan's components exactly (as the same top-N rollup)."""
    from pyspark.sql import functions as F

    from pyblazing_spark.operators.graph import scc_pivot_fwbw

    e = spark.createDataFrame(edges, "u long, v long")
    got = sorted(tuple(r) for r in scc_pivot_fwbw(e, top=1000).collect())

    comp = _ref_scc(edges)
    per: dict[int, list[int]] = {}
    for node, c in comp.items():
        per.setdefault(c, []).append(node)
    es = set(edges)
    exp = sorted(
        (
            c,
            len(ns),
            sum(ns),
            sum(1 for (a, b) in es if comp[a] == c and comp[b] == c),
        )
        for c, ns in per.items()
    )
    assert got == exp


@settings(max_examples=6, deadline=None)
@given(_digraph())
def test_scc_summary_matches_closure_reference(spark, edges):
    """scc_summary (r15: driver-side Tarjan over the collected distinct
    edges) on arbitrary small digraphs must reproduce the ORIGINAL
    reach-closure semantics — scc_id = min({u} ∪ {v: u→+v ∧ v→+u}) —
    computed here by brute-force boolean transitive closure, an
    algorithm independent of Tarjan (guards against a shared Tarjan
    bug between operator and test reference)."""
    from pyblazing_spark.operators.graph import scc_summary

    e = spark.createDataFrame(edges, "u long, v long")
    got = sorted(tuple(r) for r in scc_summary(e, top=1000).collect())

    nodes = sorted({n for ab in edges for n in ab})
    reach = {n: set() for n in nodes}
    for a, b in edges:
        reach[a].add(b)
    changed = True
    while changed:  # naive fixpoint: paths of length >= 1
        changed = False
        for a in nodes:
            ext = set().union(*(reach[m] for m in reach[a])) if reach[a] else set()
            if not ext <= reach[a]:
                reach[a] |= ext
                changed = True
    comp = {
        u: min([u] + [v for v in reach[u] if u in reach[v]]) for u in nodes
    }
    per: dict[int, list[int]] = {}
    for node, c in comp.items():
        per.setdefault(c, []).append(node)
    es = set(edges)
    exp = sorted(
        (
            c,
            len(ns),
            sum(ns),
            sum(1 for (a, b) in es if comp[a] == c and comp[b] == c),
        )
        for c, ns in per.items()
    )
    assert got == exp


def _chained_triangles(forward: bool) -> list[tuple[int, int]]:
    """Ten 3-cycles, each joined to the next by one edge pointing
    forward (lower ids reach higher) or backward."""
    edges = []
    for k in range(10):
        a, b, c = 3 * k, 3 * k + 1, 3 * k + 2
        edges += [(a, b), (b, c), (c, a)]
        if k < 9:
            edges.append((c, a + 3) if forward else (a + 3, c))
    return edges


@pytest.mark.parametrize(
    "edges",
    [
        # 31-node ring over negative and positive ids: one SCC, 30 rounds
        [(i, i + 1) for i in range(-15, 15)] + [(15, -15)],
        # DAG chain longer than trim_rounds: trimming stops early and
        # the rest resolves through propagation and later waves
        [(i, i + 1) for i in range(12)],
        [(a, b) for k in range(50) for a, b in ((2 * k, 2 * k + 1), (2 * k + 1, 2 * k))],
        _chained_triangles(forward=True),
        _chained_triangles(forward=False),
    ],
    ids=["ring31", "dag_chain", "two_cycles", "triangles_fwd", "triangles_bwd"],
)
def test_scc_pivot_fwbw_fixed_graphs_match_tarjan(spark, edges):
    """Topologies the random strategy rarely draws: a long ring (deep
    propagation), a chain past the trim limit, many disjoint SCCs in one
    wave, and SCC chains whose cells split over a second wave."""
    from pyblazing_spark.operators.graph import _tarjan_min_label, scc_pivot_fwbw

    e = spark.createDataFrame(edges, "u long, v long")
    got = sorted(tuple(r) for r in scc_pivot_fwbw(e, top=1000).collect())

    comp = _tarjan_min_label(edges)
    per: dict[int, list[int]] = {}
    for node, c in comp.items():
        per.setdefault(c, []).append(node)
    exp = sorted(
        (c, len(ns), sum(ns), sum(1 for a, b in set(edges) if comp[a] == comp[b] == c))
        for c, ns in per.items()
    )
    assert got == exp


def test_graph_scc_pivot_job_count(spark, sf_dir):
    """The entry's Spark job count at sf0.001, including the collect, is
    pinned: two-sided propagation runs one job per round, and repeat
    table loads pass a cached schema instead of launching an inference
    job (the coloring + backward-BFS form took 20 here)."""
    from pyblazing_spark.plans.registry import REGISTRY

    fn = REGISTRY["graph_scc_pivot"].fn
    fn(spark, sf_dir).collect()  # warm the schema cache
    sc = spark.sparkContext
    sc.setJobGroup("scc-pivot-jobs", "graph_scc_pivot job count")
    try:
        fn(spark, sf_dir).collect()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("scc-pivot-jobs"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_jobs == 14
