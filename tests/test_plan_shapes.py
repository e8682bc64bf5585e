"""Structural plan-shape regression guard for the 12 headline bench
queries: pins the FINAL adaptive plan's shuffle count, parquet scan
count, Python-boundary count, and sort-merge-join count to the shapes
shipped in round 5.

Complements tests/test_plan_audits.py (which asserts specific
properties like pushdown and broadcast): this file catches the silent
regressions those targeted audits don't cover — an accidental extra
shuffle, a scan that stopped being shared, a Python boundary creeping
into a JVM-only pipeline, or a broadcast join degrading to
sort-merge. Bounds are UPPER bounds (<=) so AQE run-to-run variance
can only make plans better, never quietly worse.

Entries return their lazy plans, so the counts are those of the
kernels. Only entries that must materialize before returning (their
inputs live in a temp dir removed on exit) record zeros: their final
plan is the checkpoint's scan.

``EXPECTED_JOBS`` caps the Spark jobs one collect of an entry runs,
eager construction jobs included.
"""

from __future__ import annotations

import pytest

import pyblazing_spark.plans as plans

#: name -> ceilings observed for the shipped plans (round 5, Spark 4.1).
EXPECTED_SHAPES: dict[str, dict[str, int]] = {
    "tpch_q1": dict(exch=2, scans=1, py=0, smj=0),
    "tpch_q3": dict(exch=3, scans=3, py=0, smj=0),
    "tpch_q5": dict(exch=7, scans=6, py=0, smj=0),
    "tpch_q6": dict(exch=1, scans=1, py=0, smj=0),
    "tpch_q19": dict(exch=2, scans=2, py=0, smj=0),
    "agg_count_distinct": dict(exch=3, scans=1, py=0, smj=0),
    "events_sessionize": dict(exch=1, scans=1, py=0, smj=0),
    "text_stats": dict(exch=2, scans=1, py=0, smj=0),
    "dedup_minhash_lsh": dict(exch=8, scans=2, py=0, smj=0),
    # ann_cosine_topk: one corpus scan into the top-k kernel; exchanges =
    # the per-query window + final sort.
    "ann_cosine_topk": dict(exch=2, scans=1, py=0, smj=0),
    "multimodal_features": dict(exch=1, scans=1, py=0, smj=0),
    "win_running_sum": dict(exch=1, scans=1, py=0, smj=0),
    # round-8 bench additions (r7 verdict #8): shapes recorded at entry
    "join_bloom_prune": dict(exch=3, scans=2, py=0, smj=0),
    "pipeline_snapshot_diff": dict(exch=3, scans=2, py=0, smj=1),
    # round-8 continuation bench additions: shapes recorded at entry.
    # dedup_paragraph: one fact scan; exchanges = first-occurrence
    # window hash + per-doc agg + per-source agg + final sort.
    "dedup_paragraph": dict(exch=4, scans=1, py=0, smj=0),
    # join_interval_overlap: two slice scans, bucket equi join (hash or
    # broadcast under AQE) + month agg + final sort; never a nested loop
    # (separately asserted in test_plan_audits).
    "join_interval_overlap": dict(exch=3, scans=2, py=0, smj=0),
    # round-9 bench additions: shapes recorded at entry.
    # join_asof_nearest: two slice scans -> union -> ONE logical shuffle
    # on user_id (both union children exchange) + the final sort.
    "join_asof_nearest": dict(exch=3, scans=2, py=0, smj=0),
    # agg_equidepth_histogram: two-phase global_ntile (range-bucket ids
    # + local ranks + prefix offsets as literals) then the bucket rollup.
    "agg_equidepth_histogram": dict(exch=6, scans=2, py=0, smj=0),
    # the two avro entries checkpoint before their temp dir is removed
    # (LocalTableScan); the I/O path is audited by their oracles and
    # tests/test_avro.py instead.
    "source_avro_roundtrip": dict(exch=0, scans=0, py=0, smj=0),
    "source_avro_split_scan": dict(exch=0, scans=0, py=0, smj=0),
    # text_bpe_encode: the corpus is checkpointed once inside the entry
    # (no parquet scan left); the encode UDF is the one Python boundary;
    # exchanges = the (token, word) and token aggregations (the top-20 is
    # a TakeOrderedAndProject).
    "text_bpe_encode": dict(exch=2, scans=0, py=1, smj=0),
    # text_multi_keyword_tag: one corpus scan through the Aho-Corasick
    # kernel; exchanges = per-keyword aggregation, its broadcast onto the
    # keyword list, final sort.
    "text_multi_keyword_tag": dict(exch=3, scans=1, py=0, smj=0),
    # text_unigram_tokenize: the Viterbi frame reads the checkpointed
    # word vocabulary (no parquet scan left); exchanges = the
    # (wlen, n_pieces) aggregation + final sort.
    "text_unigram_tokenize": dict(exch=2, scans=0, py=0, smj=0),
    # txn_data_skipping checkpoints before its temp tables are removed;
    # the property that matters — manifest prune actually skipping files
    # — is asserted INSIDE the entry (raises on a no-skip read) and in
    # tests/test_txn_table.py.
    "txn_data_skipping": dict(exch=0, scans=0, py=0, smj=0),
}

#: name -> ceiling on the jobs one ``fn(spark, sf_dir).toPandas()`` runs
#: once the session has cached the tables' schemas.
EXPECTED_JOBS: dict[str, int] = {
    "ann_cosine_topk": 5,
    "text_bpe_encode": 6,
    "text_multi_keyword_tag": 5,
    # the tokenizer entries: one word-count job pair, a vocabulary
    # collect, then the encode (text_bpe_merges returns a local frame)
    "text_bpe_byte_level": 6,
    "text_bpe_encode_k64": 6,
    "text_bpe_merges": 3,
    "text_unigram_em_learn": 5,
    "text_unigram_tokenize": 7,
    # the global-window entries: each two-phase call pays one boundary
    # job and one per-bucket collect (operators/global_window.py)
    "agg_equidepth_histogram": 9,
    "events_rfm": 15,
    "pipeline_quality_deciles": 9,
    "pipeline_seq_packing": 9,
    "sort_pareto_frontier": 11,
    "sort_zorder_cluster": 9,
    "win_global_scaled": 5,
    # the retrieval family: one BM25 scorer (per-doc checkpoint, N/avgdl
    # collect) and one RRF fusion leg (plans/retrieval.py)
    "text_bm25": 8,
    "retrieval_rrf_fusion": 9,
    "retrieval_context_pack": 12,
    # the inverted-index dedup entries: shingle checkpoint, then the
    # self-join
    "dedup_ngram_jaccard": 9,
    "dedup_containment": 9,
}


def _final_plan(df) -> str:
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    # AdaptiveSparkPlan prints "== Final Plan ==" then "== Initial Plan ==";
    # only the final section reflects what actually ran.
    return p.split("== Initial Plan ==")[0]


def test_expected_shapes_covers_exactly_the_bench_set():
    bench = {n for n, s in plans.REGISTRY.items() if s.bench}
    assert bench == set(EXPECTED_SHAPES), (
        "bench set changed — record the new entry's plan shape here"
    )


@pytest.mark.parametrize("name", sorted(EXPECTED_SHAPES))
def test_bench_plan_shape_has_not_regressed(spark, sf_dir, name):
    exp = EXPECTED_SHAPES[name]
    p = _final_plan(plans.REGISTRY[name].fn(spark, sf_dir))
    got = dict(
        exch=p.count("Exchange") - p.count("ReusedExchange"),
        scans=p.count("Scan parquet"),
        py=p.count("EvalPython"),
        smj=p.count("SortMergeJoin"),
    )
    for key, ceiling in exp.items():
        assert got[key] <= ceiling, (
            f"{name}: {key}={got[key]} exceeds shipped ceiling {ceiling}\n{p}"
        )


@pytest.mark.parametrize("name", sorted(EXPECTED_JOBS))
def test_bench_entry_job_count_has_not_regressed(spark, sf_dir, name):
    fn = plans.REGISTRY[name].fn
    fn(spark, sf_dir).toPandas()  # warm the per-session table-schema cache
    sc = spark.sparkContext
    group = f"job-count-{name}"
    sc.setJobGroup(group, group)
    try:
        fn(spark, sf_dir).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = len(sc.statusTracker().getJobIdsForGroup(group))
    assert got <= EXPECTED_JOBS[name], (
        f"{name}: {got} jobs exceeds shipped ceiling {EXPECTED_JOBS[name]}"
    )
