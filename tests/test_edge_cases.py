"""Edge cases: empty inputs through every operator family, single-row
inputs, and property-based checks (hypothesis) for the pure functions
— the reference had no property testing at all (SURVEY.md §5.5)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyblazing_spark.dialect import prepare, translate_format
from pyblazing_spark.operators import dedup as DD
from pyblazing_spark.operators import multimodal as MM
from pyblazing_spark.operators import similarity as SIM
from pyblazing_spark.sources.tables import load_table


# ------------------------------------------------------------ empty inputs
def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string")


def _empty_vecs(spark):
    return spark.createDataFrame([], "vec_id bigint, embedding array<float>")


def test_dedup_ops_on_empty(spark):
    docs = _empty_docs(spark)
    assert DD.minhash_lsh_pairs(docs).count() == 0
    assert DD.simhash_pairs(docs).count() == 0
    assert DD.ngram_jaccard_pairs(docs).count() == 0
    assert DD.exact_dedup(docs).count() == 0


def test_similarity_on_empty(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    # empty corpus
    assert SIM.cosine_topk(_empty_vecs(spark), queries).count() == 0
    # empty queries -> empty result with the right schema
    out = SIM.cosine_topk(emb, _empty_vecs(spark).select(
        F.col("vec_id").alias("query_id"), "embedding"))
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "neighbor_id", "cos", "rank"}


def test_multimodal_on_empty(spark):
    blobs = MM.attach_blob(_empty_docs(spark))
    assert MM.extract_features(blobs).count() == 0
    assert MM.frame_sample(blobs).count() == 0


def test_single_doc_has_no_pairs(spark, sf_dir):
    one = load_table(spark, sf_dir, "documents").limit(1)
    assert DD.minhash_lsh_pairs(one).count() == 0
    assert DD.simhash_pairs(one).count() == 0


def test_whitespace_only_text(spark):
    docs = spark.createDataFrame(
        [(1, "   "), (2, ""), (3, "real text here three words")],
        "doc_id bigint, text string",
    )
    # must not throw; blank docs may pair with each other but not with text
    pairs = DD.minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert all({p.id_a, p.id_b} <= {1, 2} for p in pairs)


# ------------------------------------------------------- property tests
@given(st.text(alphabet=st.characters(codec="ascii"), max_size=200))
@settings(max_examples=50, deadline=None)
def test_prepare_identity_without_datetime_fns(sql_text):
    """prepare() is the identity on anything without TO_DATE/TO_TIMESTAMP
    format literals."""
    if "TO_DATE" in sql_text.upper() or "TO_TIMESTAMP" in sql_text.upper():
        return
    assert prepare(sql_text) == sql_text


@given(st.sampled_from(["YYYY", "YY", "DD", "MI", "SS", "HH24", "HH12"]))
def test_translate_format_is_idempotent(tok):
    once = translate_format(tok)
    assert translate_format(once) == once


import pytest


@pytest.mark.parametrize("n", [2, 3, 5, 20])
def test_bucket_pairs_yields_all_ordered_pairs(spark, n):
    """_bucket_pairs yields exactly C(n,2) ordered (id_a < id_b) pairs."""
    ids = list(range(0, 10 * n, 10))
    df = spark.createDataFrame([(ids,)], "ids array<bigint>")
    out = df.select(F.explode(DD._bucket_pairs(F.col("ids"))).alias("p")).collect()
    assert len(out) == n * (n - 1) // 2
    assert all(r.p.id_a < r.p.id_b for r in out)
    assert len({(r.p.id_a, r.p.id_b) for r in out}) == len(out)


# ------------------------------------------- review-finding regressions
def test_cosine_udf_null_and_ragged(spark):
    from pyblazing_spark.functions import vectors as VEC

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),
            (2, None, [1.0, 0.0]),
            (3, [1.0, 0.0, 0.0], [0.0, 1.0]),  # ragged pair
            (4, [0.0, 1.0], [0.0, 1.0]),
        ],
        "id bigint, a array<float>, b array<float>",
    )
    rows = {r.id: r.c for r in df.select("id", VEC.cosine_udf("a", "b").alias("c")).collect()}
    assert abs(rows[1] - 1.0) < 1e-9 and abs(rows[4] - 1.0) < 1e-9
    import math

    assert rows[2] is None or math.isnan(rows[2])
    assert rows[3] is None or math.isnan(rows[3])


def test_ivf_on_empty_corpus(spark, sf_dir):
    from pyblazing_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    out = SIM.ivf_ann_topk(_empty_vecs(spark), queries, k=3)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "neighbor_id", "cos", "rank"}


def test_cosine_topk_string_ids(spark):
    from pyblazing_spark.operators import similarity as SIM

    corpus = spark.createDataFrame(
        [("d1", [1.0, 0.0]), ("d2", [0.0, 1.0]), ("d3", [1.0, 1.0])],
        "doc bigstring, embedding array<float>".replace("bigstring", "string"),
    )
    queries = spark.createDataFrame(
        [("q1", [1.0, 0.0])], "query_id string, embedding array<float>"
    )
    out = SIM.cosine_topk(corpus, queries, k=2, id_col="doc")
    rows = out.collect()
    assert [r.neighbor_id for r in rows] == ["d1", "d3"]
    assert all(isinstance(r.query_id, str) for r in rows)


def test_simhash_pairs_max_hamming_zero(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    pairs = DD.simhash_pairs(docs, max_hamming=0).collect()
    assert all(p.hamming == 0 for p in pairs)


def test_localfs_root_joins_paths(spark, sf_dir):
    from pyblazing_spark.context import BlazingContext

    bc = BlazingContext(spark=spark)
    bc.localfs("tdroot", root=sf_dir)
    assert bc._resolve_paths("tdroot://nation.parquet") == f"file://{sf_dir}/nation.parquet"
    assert bc.create_table("lf_nation", "tdroot://nation.parquet").count() == 25
    bc.drop_table("lf_nation")


def test_dialect_nested_call_formats(spark):
    from pyblazing_spark.dialect import prepare

    q = "SELECT TO_DATE(COALESCE(NULLIF(s, ''), '1970-01-01'), 'YYYY-MM-DD') FROM t"
    assert "'yyyy-MM-dd'" in prepare(q)
    nested = "SELECT TO_DATE(CAST(TO_TIMESTAMP(x, 'YYYY-MM-DD HH24:MI:SS') AS STRING), 'YYYY-MM-DD')"
    out = prepare(nested)
    assert "'yyyy-MM-dd HH:mm:ss'" in out and out.endswith("'yyyy-MM-dd')")


def test_approx_aggregates_error_bounds(spark, sf_dir):
    """The approximate aggregates must track their exact twins: the
    entries now emit the bound check as a boolean column (so the DuckDB
    oracle can assert TRUE) — every row must report in-bounds."""
    import pyblazing_spark.plans as plans

    for row in plans.REGISTRY["agg_approx_distinct"].fn(spark, sf_dir).collect():
        assert row["approx_within_5pct"], f"HLL too far off: {row}"

    for row in plans.REGISTRY["agg_approx_percentile"].fn(spark, sf_dir).collect():
        assert row["approx_within_1pct"], f"sketch percentile off: {row}"


def test_sub_ngram_docs_have_no_shingles(spark):
    """Docs shorter than n chars define an EMPTY shingle set on both
    engines (oracle: generate_series(1, len-n+1) is empty) — two
    identical 5-char docs must NOT pair up via a truncated shingle
    (ADVICE r4: latent fixture-dependent oracle mismatch)."""
    docs = spark.createDataFrame(
        [
            (1, "tiny!"),
            (2, "tiny!"),
            (3, "a much longer document body that repeats: " + "xyz" * 20),
            (4, "a much longer document body that repeats: " + "xyz" * 20),
        ],
        "doc_id long, text string",
    )
    cont = DD.containment_pairs(docs, threshold=0.0).collect()
    jac = DD.ngram_jaccard_pairs(docs, threshold=0.0).collect()
    ids_seen = {r.contained_id for r in cont} | {r.container_id for r in cont}
    ids_seen |= {r.id_a for r in jac} | {r.id_b for r in jac}
    assert 1 not in ids_seen and 2 not in ids_seen, (cont, jac)
    # the long identical pair still pairs at containment/jaccard 1.0
    assert any(r.containment == 1.0 for r in cont)
    assert any(r.jaccard == 1.0 for r in jac)


def test_bloom_words_saturation_warns(caplog):
    """When the 1 Mbit cap clamps the bitmap the pre-filter stops
    pruning (FPR -> 1): the sizing must say so loudly (r8 verdict #4)
    while still returning the capped, oracle-identical size."""
    import logging

    from pyblazing_spark.plans import retrieval as R

    with caplog.at_level(logging.WARNING, logger="pyblazing_spark.plans.retrieval"):
        words = R._bloom_words(5_000_000)
    assert words == R._BLOOM_MAX_WORDS
    assert any("saturated" in r.message and "FPR" in r.message for r in caplog.records)

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="pyblazing_spark.plans.retrieval"):
        ok = R._bloom_words(1000)
    assert ok == (10 * 1000 + 31) // 32  # unclamped word-aligned size
    assert not caplog.records


# ------------------------------------------------------ array_lit helper
def test_long_array_lit_matches_f_lit(spark):
    """functions.array_lit(.., LongType()) must be value- AND dtype-identical to
    the F.lit(list) form it replaces (one py4j call per element, ~0.5 s
    per 1k words of pure driver time — the late-r15 bloom-bitmap fix);
    negatives, zero, int64 extremes and a bare generator all round-trip."""
    from pyspark.sql.types import LongType

    from pyblazing_spark.functions import array_lit

    vals = [0, 1, -1, 2**63 - 1, -(2**63), 42]
    ref = spark.range(1).select(
        F.lit(vals).cast("array<bigint>").alias("a")
    )
    got = spark.range(1).select(array_lit(iter(vals), LongType()).alias("a"))
    assert got.dtypes == ref.dtypes == [("a", "array<bigint>")]
    assert got.collect() == ref.collect()
    # element_at probing (the bloom access pattern) agrees too
    probe = spark.range(1).select(
        *[
            F.element_at(array_lit(vals, LongType()), i + 1).alias(f"e{i}")
            for i in range(len(vals))
        ]
    )
    assert list(probe.collect()[0]) == vals
