"""Property-based tests for the analytics operators against pure-Python
references: the single-pass Pareto window vs the O(n²) dominance
definition, and the distributed PageRank loop vs a dense reference
implementation (hypothesis drives random topologies the fixed fixture
graph cannot cover)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyblazing_spark.operators.analytics import pagerank, pareto_frontier_2d


def _ref_frontier(points: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """Textbook strict-dominance skyline (minimize x, maximize y)."""
    return {
        (x, y)
        for (x, y) in points
        if not any(
            bx <= x and by >= y and (bx < x or by > y) for (bx, by) in points
        )
    }


@st.composite
def _points(draw):
    n = draw(st.integers(min_value=1, max_value=25))
    return {
        (
            draw(st.integers(min_value=0, max_value=12)),
            draw(st.integers(min_value=0, max_value=12)),
        )
        for _ in range(n)
    }


@settings(max_examples=8, deadline=None)
@given(_points())
def test_pareto_frontier_matches_quadratic_reference(spark, pts):
    df = spark.createDataFrame([(x, y) for x, y in sorted(pts)], "x long, y long")
    got = {(r["x"], r["y"]) for r in pareto_frontier_2d(df, "x", "y").collect()}
    assert got == _ref_frontier(pts)


def _ref_pagerank(
    edges: list[tuple[int, int, float]], d: float, iters: int
) -> dict[int, float]:
    nodes = sorted({a for a, _, _ in edges} | {b for _, b, _ in edges})
    out_w: dict[int, float] = {}
    for a, _, w in edges:
        out_w[a] = out_w.get(a, 0.0) + w
    rank = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(iters):
        incoming = {n: 0.0 for n in nodes}
        for a, b, w in edges:
            incoming[b] += rank[a] * w / out_w[a]
        rank = {n: (1 - d) / len(nodes) + d * incoming[n] for n in nodes}
    return rank


@st.composite
def _edge_list(draw):
    n_edges = draw(st.integers(min_value=1, max_value=20))
    edges = {}
    for _ in range(n_edges):
        a = draw(st.integers(min_value=0, max_value=8))
        b = draw(st.integers(min_value=0, max_value=8))
        if a == b:
            continue
        w = float(draw(st.integers(min_value=1, max_value=5)))
        edges[(a, b)] = edges.get((a, b), 0.0) + w
    return [(a, b, w) for (a, b), w in sorted(edges.items())] or [(0, 1, 1.0)]


@settings(max_examples=5, deadline=None)
@given(_edge_list())
def test_pagerank_matches_dense_reference(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {r["node"]: r["rank"] for r in pagerank(df, 0.85, 3).collect()}
    want = _ref_pagerank(edges, 0.85, 3)
    assert set(got) == set(want)
    for n, r in want.items():
        assert abs(got[n] - r) < 1e-9, (n, got[n], r)
    # Conservation: with no dangling redistribution, total rank can only
    # leak mass through sink nodes — it never exceeds 1.
    assert sum(got.values()) <= 1.0 + 1e-9


def test_pareto_sweep_window_is_partitioned(spark, sf_dir):
    """The frontier sweep must never plan an unpartitioned window: every
    window partitions by the range-bucket id, and the earlier buckets'
    maxima arrive as literals, not through a join."""
    from pyblazing_spark.sources.tables import load_table

    part = load_table(spark, sf_dir, "part").select(
        F.col("p_retailprice").alias("x"), F.col("p_size").cast("double").alias("y")
    )
    df = pareto_frontier_2d(part, "x", "y")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Join" not in plan, plan
    data_windows = [
        l for l in plan.splitlines() if "windowspecdefinition" in l and "x#" in l
    ]
    assert data_windows, plan
    for line in [l for l in plan.splitlines() if "windowspecdefinition" in l]:
        assert "__pid" in line, f"unpartitioned sweep window: {line}"


@st.composite
def _word_docs(draw):
    n_docs = draw(st.integers(min_value=1, max_value=4))
    vocab = ["aa", "bb", "cc", "dd"]
    docs = []
    for i in range(n_docs):
        n = draw(st.integers(min_value=6, max_value=20))
        docs.append((i, " ".join(draw(st.sampled_from(vocab)) for _ in range(n))))
    return docs


@settings(max_examples=5, deadline=None)
@given(_word_docs())
def test_winnowing_property_random_docs(spark, docs):
    """text_winnowing's pipeline vs the hashlib reference on adversarial
    random docs (tiny vocab -> heavy hash ties exercising the
    rightmost-position tie rule), via a temp parquet documents table."""
    import hashlib
    import re as _re
    import shutil
    import tempfile

    import pandas as pd

    from pyblazing_spark.plans.llm import (
        _WINNOW_K,
        _WINNOW_POS,
        _WINNOW_W,
        text_winnowing,
    )

    K, W, P = _WINNOW_K, _WINNOW_W, _WINNOW_POS
    out = tempfile.mkdtemp(prefix="winnow_prop_")
    try:
        pd.DataFrame(
            {
                "doc_id": [d for d, _ in docs],
                "text": [t for _, t in docs],
                "lang": ["en"] * len(docs),
                "source": ["prop"] * len(docs),
                "n_chars": [len(t) for _, t in docs],
            }
        ).to_parquet(out + "/documents.parquet")
        got = [tuple(r) for r in text_winnowing(spark, out).collect()]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    expect = []
    for doc_id, text in docs:
        tk = _re.split(r"\s+", text.strip())
        if len(tk) < K + W - 1:
            continue
        grams = [" ".join(tk[i : i + K]) for i in range(len(tk) - K + 1)]
        packed = [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) * P + (P - (i + 1))
            for i, g in enumerate(grams)
        ]
        n_win = len(grams) - W + 1
        fps = {min(packed[i : i + W]) for i in range(n_win)}
        expect.append(
            (
                doc_id,
                len(grams),
                n_win,
                len(fps),
                len({f // P for f in fps}),
                round(len(fps) / n_win + 1e-9, 4),
            )
        )
    assert got == sorted(expect)
