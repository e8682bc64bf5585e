"""Physical-plan audits for scale-critical properties: these assert the
SHAPE of the plan (what would matter at 100 TB), not just the result."""

from __future__ import annotations

import pyblazing_spark.plans as plans


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _exchange_inputs(df) -> list[str]:
    """The ``Input [n]: [cols]`` attribute list of every Exchange node in
    the EXECUTED formatted plan — i.e. the columns each shuffle actually
    carries. (`executedPlan().toString()` Exchange lines show only the
    partitioning expressions, so asserting on them can never catch a
    shuffle that CARRIES a wide column while partitioning on another key
    — this helper exists so the 'nothing wide ever shuffles' audits bite.)
    """
    df.collect()
    spark = df.sparkSession
    s = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    inputs = []
    lines = s.splitlines()
    for i, line in enumerate(lines):
        if ") Exchange" in line or line.strip().endswith("Exchange"):
            for follow in lines[i + 1 : i + 4]:
                if follow.startswith("Input"):
                    inputs.append(follow)
                    break
    return inputs


def test_exchange_input_audit_is_not_vacuous(spark, sf_dir):
    """Positive control: a shuffle partitioned on doc_id while CARRYING
    the text column must be visible to _exchange_inputs (guards the
    audit mechanism itself)."""
    from pyblazing_spark.sources.tables import load_table

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").repartition(4, "doc_id")
    leaked = docs.select("doc_id", F.length("text").alias("l"), "text")
    carried = _exchange_inputs(leaked)
    assert carried and any("text" in c for c in carried), carried


def test_bernoulli_sample_is_a_scan_stage_filter(spark, sf_dir):
    """The hash-sample predicate must evaluate pre-shuffle (a narrow
    filter over the scan) and the scan must prune to the 3 used columns —
    at 100 TB this is the difference between reading 3 columns of 10% of
    row groups' rows and materializing the table."""
    df = plans.REGISTRY["sample_hash_bernoulli"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    scan = plan[plan.index("(1) Scan parquet") :].split("\n\n")[0]
    assert "o_orderkey" in scan and "o_orderstatus" in scan and "o_totalprice" in scan
    assert "o_orderdate" not in scan  # pruned
    # the md5-bucket predicate sits in the pre-exchange Filter operator
    filter_block = plan[plan.index("(2) Filter") :].split("\n\n")[0]
    assert "md5" in filter_block


def test_minhash_reuses_shingle_exchange(spark, sf_dir):
    """Signature and Jaccard-verify branches must share ONE pass over the
    exploded shingles (AQE ReusedExchange); two passes doubles the
    dominant stage at corpus scale."""
    from pyblazing_spark.operators.dedup import minhash_lsh_pairs
    from pyblazing_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed_plan(minhash_lsh_pairs(docs))
    assert "ReusedExchange" in plan


def test_tpch_q5_broadcasts_every_dimension(spark, sf_dir):
    """At this scale factor every dimension join should be broadcast —
    no shuffle until the final aggregation."""
    plan = _optimized_plan(plans.REGISTRY["tpch_q5"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan


def test_decontam_never_shuffles_text(spark, sf_dir):
    """The decontamination semi-join must move only (id, shingle-hash)
    longs: no Exchange in the plan may carry the text column. At 100 TB
    the text is the table's bulk — shuffling it is the difference
    between a cheap hash join and re-materializing the corpus."""
    df = plans.REGISTRY["decontam_overlap"].fn(spark, sf_dir)
    for inp in _exchange_inputs(df):
        assert "text" not in inp, inp


def test_repetition_shuffles_hashes_not_bigrams(spark, sf_dir):
    """text_repetition groups on xxhash64(bigram) — bigram STRINGS must
    never appear in an Exchange (the hash is 8 bytes; the strings are
    the corpus)."""
    df = plans.REGISTRY["text_repetition"].fn(spark, sf_dir)
    for inp in _exchange_inputs(df):
        assert "text" not in inp and "__tk" not in inp, inp


def test_pii_redaction_is_a_narrow_map(spark, sf_dir):
    """PII scrubbing must run in the scan stage: apart from the final
    presentation sort, the plan holds no Exchange at all — at 100 TB
    a redaction pass that shuffles the corpus is unusable."""
    df = plans.REGISTRY["text_pii_redaction"].fn(spark, sf_dir)
    plan = _optimized_plan(df)
    # the only Sort-induced exchange is for the ORDER BY presentation;
    # no Exchange may appear below it in the optimized plan string.
    assert "Join" not in plan and "Aggregate" not in plan, plan


def test_incremental_dedup_exchanges_only_keys(spark, sf_dir):
    """The snapshot anti-join must move only 16-byte content keys and
    ids: no Exchange may carry the text column."""
    df = plans.REGISTRY["dedup_incremental"].fn(spark, sf_dir)
    for inp in _exchange_inputs(df):
        assert "text" not in inp, inp


def test_top_tokens_partial_aggregates_before_shuffle(spark, sf_dir):
    """The vocab count must map-side combine: a partial_count over the
    token must appear BEFORE the exchange, and no Exchange may carry
    the text column (only tokens/partial counts shuffle)."""
    df = plans.REGISTRY["text_top_tokens"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "partial_count" in plan, plan
    for inp in _exchange_inputs(df):
        assert "text" not in inp, inp


def test_seq_packing_window_is_bucketed(spark, sf_dir):
    """Sequence packing must run the prefix sum on the two-phase bucketed
    path: the big Window node partitions by the range-bucket id, never an
    empty partitionBy over the full data."""
    df = plans.REGISTRY["pipeline_seq_packing"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    windows = [l for l in plan.splitlines() if "Window" in l and "windowspecdefinition" in l]
    data_windows = [l for l in windows if "__tok" in l]
    assert data_windows, "expected a prefix-sum window over __tok"
    for line in data_windows:
        assert "__pid" in line, f"data window is not bucket-partitioned: {line}"


def test_kmeans_centroid_update_partial_aggregates(spark, sf_dir):
    """The Lloyd centroid update must map-side combine: partial averages
    over the exploded (cluster, dim) rows appear BEFORE the exchange, so
    the shuffle carries k x dim x n_partitions partial sums, never the
    data-sized explode output. The assignment pass must hold no join at
    all (centroids travel in the kernel closure)."""
    from pyspark.sql import functions as F

    from pyblazing_spark.operators.similarity import centroid_assign_with_dist
    from pyblazing_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    init = emb.select(
        "vec_id", "embedding", (F.col("vec_id") % 8).cast("int").alias("__c")
    )
    upd = (
        init.select("__c", F.posexplode("embedding").alias("__i", "__x"))
        .groupBy("__c", "__i")
        .agg(F.avg(F.col("__x").cast("double")).alias("__m"))
    )
    plan = _executed_plan(upd)
    assert "partial_avg" in plan, plan
    import numpy as np

    assigned = init.select(
        "vec_id", centroid_assign_with_dist(F.col("embedding"), np.zeros((8, 64)))
    )
    assert "Join" not in _optimized_plan(assigned)


def test_quantize_broadcasts_dim_stats(spark, sf_dir):
    """The quantization pass joins each exploded value to the 64-row
    per-dimension stats table — that join must be broadcast (pass 2 stays
    embarrassingly parallel); a shuffle join on dim id would funnel the
    corpus through 64 reducers."""
    df = plans.REGISTRY["vector_quantize"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_lm_unigram_broadcasts_vocab_and_never_shuffles_text(spark, sf_dir):
    """The token->frequency join must broadcast the vocabulary (Zipf head
    fits by contract at this setting) and no Exchange may carry the text
    column — only (token, count) pairs shuffle in the frequency pass."""
    df = plans.REGISTRY["text_lm_unigram"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    for inp in _exchange_inputs(df):
        assert "text" not in inp, inp


def test_epoch_shuffle_has_no_global_sort_before_ranking(spark, sf_dir):
    """The per-shard ordering window must partition by (epoch, shard) —
    never an empty partitionBy (single-reducer global sort) over the
    permutation keys."""
    df = plans.REGISTRY["sample_epoch_shuffle"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    windows = [
        l for l in plan.splitlines() if "Window" in l and "windowspecdefinition" in l
    ]
    assert windows, plan
    for line in windows:
        assert "epoch" in line and "shard" in line, (
            f"ranking window is not shard-partitioned: {line}"
        )


def test_bucketed_join_entry_is_exchange_free(spark, sf_dir):
    """The sink_bucketed_join entry's JOIN must read co-located buckets
    with no Exchange on either input (the final groupBy may shuffle its
    tiny aggregates; the join itself must not). Broadcast is disabled so
    co-location, not broadcast, is what the audit proves."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = plans.REGISTRY["sink_bucketed_join"].fn(spark, sf_dir)
        # final AQE plan only — the trailing "== Initial Plan ==" echo
        # repeats the whole tree and would false-positive the assert.
        plan = _executed_plan(df).split("== Initial Plan ==")[0]
        join_section = plan[plan.index("SortMergeJoin"):]
        assert "Exchange" not in join_section, (
            f"bucketed join still shuffles:\n{join_section}"
        )
        assert join_section.count("Bucketed: true") == 2, join_section
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_span_coverage_never_shuffles_text(spark, sf_dir):
    """duplicated_span_coverage explodes every k-char window of the
    corpus — its exchanges must carry only (id, pos, hash): the doc text
    appearing in any Exchange means the gram substring was deferred past
    the scan stage, shuffling the corpus k times over."""
    from pyblazing_spark.operators.dedup import duplicated_span_coverage
    from pyblazing_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = duplicated_span_coverage(docs, k=24, sample_mod=4)
    for inp in _exchange_inputs(df):
        assert "text" not in inp and "__t" not in inp, inp


def test_gap_fill_broadcasts_grid_and_windows_once(spark, sf_dir):
    """events_gap_fill: the generated hour grid must join broadcast
    (never shuffle the fact side against 48 generated rows), and the
    locf fill must be a single Window over user_id — a second window
    exchange would double the only doc-keyed shuffle."""
    df = plans.REGISTRY["events_gap_fill"].fn(spark, sf_dir)
    plan = _optimized_plan(df)
    assert plan.count("Window") == 1, plan
    phys = _executed_plan(df)
    assert "BroadcastNestedLoopJoin" in phys or "BroadcastHashJoin" in phys


def test_q9_ps_broadcasts_all_dimensions(spark, sf_dir):
    """tpch_q9_ps: partsupp (4x part — dimension-sized), part, supplier
    and nation must all join broadcast; only lineitem x orders may ever
    shuffle. At test scale that means >= 4 BroadcastHashJoins and zero
    SortMergeJoin on the dimension keys."""
    df = plans.REGISTRY["tpch_q9_ps"].fn(spark, sf_dir)
    phys = _executed_plan(df)
    assert phys.count("BroadcastHashJoin") >= 4, phys


def test_vector_diversity_partial_aggregates(spark, sf_dir):
    """The one-pass pairwise-distance identity only beats the O(n^2)
    formulation if the per-(group, dim) sums combine map-side: the
    executed plan must contain partial_sum aggregates feeding the
    exchange."""
    df = plans.REGISTRY["vector_diversity"].fn(spark, sf_dir)
    phys = _executed_plan(df)
    assert "partial_sum" in phys, phys


def test_runtime_minmax_filter_reaches_fact_scan(spark, sf_dir):
    """join_runtime_minmax_filter's whole point: the dimension-derived
    key range must arrive at the orders parquet scan as PushedFilters
    (literal bounds -> row-group zone-map skipping at 100 TB), and the
    dimension join itself must broadcast."""
    df = plans.REGISTRY["join_runtime_minmax_filter"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    scans = [b for b in plan.split("\n\n") if "Scan parquet" in b and "orders" in b]
    assert scans, plan
    assert any(
        "GreaterThanOrEqual(o_custkey" in b and "LessThanOrEqual(o_custkey" in b
        for b in scans
    ), scans[0]
    assert "SortMergeJoin" not in plan


def test_sequence_motif_is_one_window_one_scan(spark, sf_dir):
    """events_sequence_motif's scale claim: both motifs match from ONE
    events scan and ONE Window operator (both lags share the user_id
    shuffle), counted by one aggregate job — never a
    scan-window-aggregate chain per motif."""
    df = plans.REGISTRY["events_sequence_motif"].fn(spark, sf_dir)
    # AQE's toString prints the plan twice (Final + Initial sections);
    # count nodes in the final section only.
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    n_scans = sum(
        1 for l in plan.splitlines() if "Scan parquet" in l or "Scan ExistingRDD" in l
    )
    n_windows = plan.count("Window [")
    assert n_scans == 1, plan
    assert n_windows == 1, plan


def test_schema_validate_is_one_scan_per_table(spark, sf_dir):
    """pipeline_schema_validate's scale claim: all seven contract rules
    evaluate from ONE scan of orders and ONE scan of documents (plus
    the broadcast customer key side) — never one job per rule — and the
    referential rule must not force a shuffle join."""
    df = plans.REGISTRY["pipeline_schema_validate"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "SortMergeJoin" not in plan, plan
    for table, want in (("orders", 1), ("documents", 1), ("customer", 1)):
        n = sum(
            1
            for b in plan.split("\n\n")
            if "Scan parquet" in b and f"{table}.parquet" in b
        )
        assert n == want, (table, n, plan)


def test_bloom_prune_filters_fact_before_any_shuffle(spark, sf_dir):
    """join_bloom_prune's whole point: the literal bloom bitmap must be
    tested against the fact keys as pure scan-stage JVM codegen (md5 +
    shiftleft + element_at — no Python boundary), the orders side must
    hit the bloom Filter BEFORE any Exchange (at 100 TB the pruning
    must precede the shuffle to be worth anything), the dimension
    re-check join must broadcast, and the only shuffle left is the
    final tiny per-priority aggregation."""
    df = plans.REGISTRY["join_bloom_prune"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" in plan, plan
    filters = [b for b in plan.split("\n\n") if ") Filter" in b]
    assert any("shiftleft" in b and "md5" in b for b in filters), plan
    # the fact datapath: scan -> bloom filter -> broadcast join -> agg;
    # the ONLY hash-partitioned Exchange is the final o_orderpriority agg
    shuffle_exchanges = [
        l
        for l in plan.splitlines()
        if ") Exchange" in l or l.strip().startswith("Exchange")
    ]
    hash_parts = [l for l in shuffle_exchanges if "hashpartitioning" in l]
    assert len(hash_parts) <= 1, shuffle_exchanges
    for l in hash_parts:
        assert "o_orderpriority" in l, l


def test_zorder_morton_code_stays_in_codegen(spark, sf_dir):
    """The Morton interleave must be pure JVM bit arithmetic inside
    WholeStageCodegen — no Python boundary — and the bucket assignment
    must be the PARALLEL two-phase form: every window over the lineitem
    data path partitions by the range-bucket id (never an unpartitioned
    ntile collapsing the table to one task), and, since the ≤32 prefix
    offsets arrive as literals (operators/global_window.py), the plan
    carries NO join at all."""
    df = plans.REGISTRY["sort_zorder_cluster"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    project = [b for b in plan.split("\n\n") if ") Project" in b][0]
    assert ">>" in project and "& 1" in project, project
    # offsets are literals: nothing may put a join into this
    # single-table plan.
    assert "Join" not in plan, plan
    # windows over lineitem rows must be partitioned by __pid.
    big_windows = [
        l
        for l in plan.splitlines()
        if "windowspecdefinition" in l and "zcode" in l
    ]
    assert big_windows, plan
    for line in big_windows:
        assert "__pid" in line, f"unpartitioned window over lineitem: {line}"


def test_bm25_never_shuffles_text(spark, sf_dir):
    """BM25's exchanges may carry tokens and counts — never the document
    text (the corpus bulk). The idf/stats sides must broadcast: the only
    sort-merge-eligible join is tf⋈dl on doc_id."""
    df = plans.REGISTRY["text_bm25"].fn(spark, sf_dir)
    for inp in _exchange_inputs(df):
        assert "text#" not in inp, inp


def test_attribution_uses_one_window_pass(spark, sf_dir):
    """Both IGNORE NULLS attribution lookups (first/last touch) share one
    Window operator over one user_id shuffle — a second window pass would
    double the dominant stage at event-log scale."""
    df = plans.REGISTRY["events_attribution"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    # AQE's executed-plan string prints the final subtree twice; count
    # DISTINCT window operators, not occurrences.
    windows = {
        line.strip()
        for line in plan.splitlines()
        if "Window" in line and "windowspecdefinition" in line
    }
    assert len(windows) == 1, plan
    (w,) = windows
    assert "last(" in w and "first(" in w  # both touches in the one pass


def test_pq_adc_scoring_is_a_broadcast_lut_join(spark, sf_dir):
    """PQ-ADC's whole premise: after encoding, scoring joins 1-byte codes
    against the broadcast query LUT — no Exchange may carry the embedding
    vectors (the corpus bulk); only the tiny shortlist re-rank touches
    them again."""
    df = plans.REGISTRY["ann_pq_adc"].fn(spark, sf_dir)
    assert "BroadcastHashJoin" in _executed_plan(df)
    for inp in _exchange_inputs(df):
        assert "embedding#" not in inp, inp


def test_bigram_lm_never_shuffles_text(spark, sf_dir):
    """Bigram construction is a narrow array-zip: document text must
    never appear in an Exchange (bigram tokens/counts may — they are
    vocabulary-sized)."""
    df = plans.REGISTRY["text_lm_bigram"].fn(spark, sf_dir)
    for inp in _exchange_inputs(df):
        assert "text#" not in inp, inp


def test_weighted_reservoir_plans_as_take_ordered(spark, sf_dir):
    """The A-Res top-20 must plan as TakeOrderedAndProject (Catalyst's
    LimitPushDownThroughWindow rewrite of the rank<=k filter): the
    global window then ranks only the 20 survivors, never the full
    orders table in one task. Pinned because the rewrite silently
    disappears if the filter/rank shape drifts."""
    df = plans.REGISTRY["sample_weighted_reservoir"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_winnowing_never_shuffles_text_or_grams(spark, sf_dir):
    """text_winnowing hashes grams in the scan stage; every Exchange
    (the doc_id window + final groupBy) must carry only long columns —
    neither the text nor the token array may shuffle."""
    df = plans.REGISTRY["text_winnowing"].fn(spark, sf_dir)
    for inp in _exchange_inputs(df):
        assert "text" not in inp and "__tk" not in inp, inp


def test_contamination_report_is_one_pass_no_text_shuffle(spark, sf_dir):
    """decontam_fraction counts totals and hits in ONE aggregation over
    the tagged corpus shingles (benchmark side broadcast): the plan must
    contain exactly one BroadcastHashJoin over the shingle stream, no
    SortMergeJoin, and no Exchange carrying text."""
    df = plans.REGISTRY["decontam_fraction"].fn(spark, sf_dir)
    # final AQE plan only — the trailing "== Initial Plan ==" echo
    # repeats the tree and would double-count the join.
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    for inp in _exchange_inputs(df):
        assert "text" not in inp, inp


def test_kcore_rounds_run_on_checkpointed_edges(spark, sf_dir):
    """graph_kcore's result plan must be a materialized scan (the loop's
    final localCheckpoint), not a re-derivation of the peel rounds: the
    executed plan of the RETURNED frame contains no Join/Generate — all
    fact-scale work happened inside the loop."""
    df = plans.REGISTRY["graph_kcore"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert "Join" not in plan, plan


def test_dpp_subquery_prunes_fact_partitions(spark, sf_dir):
    """The join_dynamic_partition_pruning shape must plan a
    dynamicpruning subquery into the partitioned fact scan's
    PartitionFilters — the registered entry materializes (checkpoint
    before its temp dir vanishes), so the audit rebuilds the same join
    here and inspects the live plan."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pyblazing_spark.sources.tables import load_table

    out = tempfile.mkdtemp(prefix="dpp_audit_")
    try:
        od = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        od.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
            out + "/fact"
        )
        fact = spark.read.parquet(out + "/fact")
        dim = (
            od.select(F.col("o_orderpriority").alias("prio"))
            .distinct()
            .withColumn(
                "klass",
                F.when(F.col("prio").isin("1-URGENT", "2-HIGH"), "hot").otherwise(
                    "cold"
                ),
            )
        )
        j = (
            fact.join(dim, fact.o_orderpriority == dim.prio)
            .where(F.col("klass") == "hot")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert "dynamicpruning" in _executed_plan(j).lower()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_compaction_rewrite_is_shuffle_free(spark, sf_dir, tmp_path):
    """sink_compaction's core claim: the bin-packing rewrite moves each
    byte twice (read + write) and NEVER through an Exchange — coalesce
    merges input partitions in place. Audits the live compact_files
    call on a freshly fragmented slice, then the equivalent
    read->coalesce plan, then content equality of the rewrite."""
    from pyblazing_spark.sources.sinks import compact_files, write_files
    from pyblazing_spark.sources.tables import load_table

    frag, packed = str(tmp_path / "frag"), str(tmp_path / "packed")
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    write_files(od.repartition(32), frag)
    stats = compact_files(spark, frag, packed, target_bytes=8 << 20)
    assert stats["n_files_before"] == 32, stats
    assert 1 <= stats["n_files_after"] < 32, stats
    assert stats["n_files_after"] <= stats["target_files"] + 1, stats
    # the compaction plan shape: scan -> coalesce -> write, no Exchange
    df = spark.read.parquet(frag).coalesce(stats["target_files"])
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert "Coalesce" in plan, plan
    assert "Exchange" not in plan, plan
    # the rewrite is lossless (bag equality both directions)
    a, b = spark.read.parquet(frag), spark.read.parquet(packed)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_snapshot_diff_is_one_join_one_aggregate_pass(spark, sf_dir):
    """pipeline_snapshot_diff's scale contract: both snapshot versions
    are scanned ONCE each, all fourteen conditional aggregates ride a
    single Aggregate over the join (no per-status re-traversal), and
    the only exchanges are the two join sides plus the final singleton
    aggregate — so the diff costs one fact-fact join, period."""
    df = plans.REGISTRY["pipeline_snapshot_diff"].fn(spark, sf_dir)
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 2, plan
    n_exch = plan.count("Exchange")
    assert n_exch <= 3, f"{n_exch} exchanges\n{plan}"
    # one aggregate pass: partial+final pair only (2 nodes), not 7 branches
    n_agg = plan.count("HashAggregate") + plan.count("SortAggregate")
    assert n_agg <= 2, f"{n_agg} aggregate nodes\n{plan}"


def test_triangles_has_no_wedge_shuffle(spark, sf_dir):
    """Round-8 triangle architecture: triangle closure happens via
    array_intersect over broadcast adjacency arrays, NOT a wedge join —
    so no Exchange may carry the exploded triangle stream (the `w` /
    `node` columns of the per-node counting pass arrive at their
    exchange ALREADY partial-aggregated to node-sized (node, count)
    rows).  A wedge-join regression would reappear as a shuffle whose
    input carries two edge-endpoint columns plus a vkey/struct."""
    df = plans.REGISTRY["graph_triangles"].fn(spark, sf_dir)
    for inp in _exchange_inputs(df):
        # the per-node count exchange carries (node, count) longs only
        assert "vkey" not in inp and "ws#" not in inp, inp
        # adjacency arrays (nbrs) must broadcast, never shuffle
        assert "nbrs" not in inp, inp


def test_rrf_fusion_never_shuffles_text_or_vectors(spark, sf_dir):
    """Both fusion legs stay narrow: the BM25 leg shuffles (doc_id,
    count) pairs, the vector leg scores against ONE broadcast query
    vector — document text and corpus embeddings must never cross an
    exchange."""
    df = plans.REGISTRY["retrieval_rrf_fusion"].fn(spark, sf_dir)
    for inp in _exchange_inputs(df):
        assert "text#" not in inp, inp
        assert "embedding#" not in inp, inp


def test_ann_recall_eval_never_shuffles_corpus_vectors(spark, sf_dir):
    """The exact leg streams the corpus through the mapInPandas kernel
    (queries in closure); the approximate leg joins the corpus against a
    BROADCAST 5-row query table on the sign bucket.  Corpus embeddings
    must never cross an exchange — at 100 TB the vectors are the bulk."""
    df = plans.REGISTRY["ann_recall_eval"].fn(spark, sf_dir)
    for inp in _exchange_inputs(df):
        assert "embedding#" not in inp, inp


def test_sqlite_pushdown_plan_has_no_spark_filter(spark, tmp_path):
    """When every predicate is accepted by the sqlite reader's
    pushFilters, the Spark plan must contain NO Filter node — the scan
    absorbed them (the reference pushes its WHERE server-side,
    AbstractSQLDataProvider.cpp:42-86)."""
    import sqlite3

    from pyblazing_spark.sources.files import read_jdbc

    db = str(tmp_path / "audit.db")
    with sqlite3.connect(db) as con:
        con.execute("CREATE TABLE t (a INTEGER, b REAL)")
        con.executemany(
            "INSERT INTO t VALUES (?,?)", [(i, i * 1.5) for i in range(100)]
        )
    df = read_jdbc(
        spark, "t", from_sql="sqlite", database=db, table="t", numPartitions=2
    ).where("b > 30.0 AND a < 90")
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert " Filter (" not in plan, plan
    assert sorted(r.a for r in df.collect()) == list(range(21, 90))


def test_interval_overlap_join_is_hash_not_nested_loop(spark, sf_dir):
    """join_interval_overlap's point is the LINEAR bucketed rewrite: the
    overlap pairing must plan as an equi hash/broadcast join on the
    bucket id, never a BroadcastNestedLoopJoin/CartesianProduct (which
    is what a naive interval×interval predicate degenerates to and what
    dies first at 100 TB)."""
    df = plans.REGISTRY["join_interval_overlap"].fn(spark, sf_dir)
    phys = _executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in phys and "CartesianProduct" not in phys
    assert "BroadcastHashJoin" in phys or "SortMergeJoin" in phys or "ShuffledHashJoin" in phys


def test_bfs_round_plan_depth_is_constant(spark, sf_dir):
    """graph_shortest_path's loop hygiene: the final distance table must
    hang off checkpointed RDD scans, not re-derive rounds 1..k-1 (the
    lineage-OOM trap documented in CLAUDE.md). With 3 rounds the result
    plan would otherwise contain the fact-scale co-occurrence subtree;
    after checkpointing it must contain NO parquet scan at all."""
    df = plans.REGISTRY["graph_shortest_path"].fn(spark, sf_dir)
    phys = _executed_plan(df)
    assert "Scan parquet" not in phys, phys[:2000]
    assert "Scan ExistingRDD" in phys


def test_salted_join_spreads_hot_key_evenly(spark, sf_dir):
    """join_salted_skew's whole point (VERDICT r8 #7): after salting,
    no single join key occupies one shuffle partition. Audit BOTH
    halves of that claim, at whatever scale SPARK_GRAFT_TEST_SF_DIR
    points to (run at the 10x probe dir for the probe-scale pin):

    1. plan: the join's exchange hashpartitions on (key, __salt), not
       the bare key — the hot key's rows are split across `salts`
       hash cells by construction;
    2. data: for the HOTTEST key, the per-salt row counts from the
       very salt expression the join shuffles on are near-uniform
       (max cell <= 2x the uniform expectation), so those hash cells
       get comparable volumes — the property AQE's runtime skew split
       cannot give a single oversized build key.
    """
    from pyspark.sql import functions as F

    from pyblazing_spark.operators.skew import salted_join
    from pyblazing_spark.sources.tables import load_table

    salts = 16
    ev = load_table(spark, sf_dir, "events").withColumn(
        "n_nationkey", (F.col("user_id") % 25).cast("int")
    )
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = salted_join(ev, na, on="n_nationkey", salts=salts)
    # salting is for the regime where broadcast is NOT possible (the
    # replicated side outgrew the threshold); at fixture scale Spark
    # would broadcast the 25-row dim and plan no exchange at all, so
    # pin the shuffle-join shape the operator exists for.
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _executed_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    import re

    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    salted_parts = [p for p in parts if "n_nationkey" in p and "__salt" in p]
    bare_parts = [
        p for p in parts if "n_nationkey" in p and "__salt" not in p
    ]
    assert salted_parts, f"no (key, salt) exchange in plan:\n{plan[:2000]}"
    assert not bare_parts, f"unsalted key exchange remains: {bare_parts}"

    # salt-distribution evenness for the hottest key, measured with the
    # SAME salt expression the join uses (seeded rand -> deterministic)
    salt = (F.rand(seed=42) * salts).cast("int")
    cells = (
        ev.withColumn("__salt", salt)
        .groupBy("n_nationkey", "__salt")
        .count()
    )
    hot = (
        cells.groupBy("n_nationkey")
        .agg(F.sum("count").alias("total"), F.max("count").alias("max_cell"),
             F.count(F.lit(1)).alias("n_cells"))
        .orderBy(F.desc("total"))
        .limit(1)
        .collect()[0]
    )
    assert hot.n_cells == salts, f"hot key missing salt cells: {hot}"
    uniform = hot.total / salts
    assert hot.max_cell <= 2.0 * uniform, (
        f"salt distribution skewed: max cell {hot.max_cell} vs uniform "
        f"{uniform:.0f} for key total {hot.total}"
    )


def test_asof_nearest_is_one_shuffle_one_sort_one_window(spark, sf_dir):
    """asof_join_nearest's scale claim: both direction frames evaluate
    in ONE Window node over ONE sort, and every exchange is a hash
    partition on the join key (each input row crosses the network
    exactly once — never a range/single-partition exchange, never a
    second sort for the forward frame)."""
    import re

    from pyspark.sql import functions as F

    from pyblazing_spark.operators.temporal import asof_join_nearest
    from pyblazing_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select("user_id", "event_id", "ts")
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min_by("value", "event_id").alias("value"))
    )
    out = asof_join_nearest(views, buys, on="user_id", right_cols=["value"])
    plan = _executed_plan(out).split("== Initial Plan ==")[0]
    assert plan.count("Window") == 1, plan
    assert plan.count("Sort ") <= 1, plan
    n_exch = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exch <= 2, plan
    parts = re.findall(r"Exchange (\w+)", plan)
    assert parts and all(p == "hashpartitioning" for p in parts), parts
    assert "SinglePartition" not in plan and "rangepartitioning" not in plan, plan


def test_filter_cascade_is_one_scan_one_aggregate(spark, sf_dir):
    """pipeline_filter_cascade's scale claim: all 18 conditional
    counters come from ONE pass — one parquet scan, one partial/final
    HashAggregate pair (a single exchange), and the 6-row attribution
    table from a Generate (stack) over the lone aggregated row. Six
    per-rule passes would scan the corpus six times at 100 TB."""
    import pyblazing_spark.plans as plans

    df = plans.REGISTRY["pipeline_filter_cascade"].fn(spark, sf_dir)
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    # partial+final of the one keyless aggregate (plus nothing else)
    assert plan.count("HashAggregate") + plan.count("SortAggregate") == 2, plan
    assert "Generate " in plan or "Expand" in plan, plan  # the stack unpivot


def test_sequence_packing_window_is_partitioned(spark, sf_dir):
    """pipeline_sequence_packing's scale claim: the cumulative token
    sum is a PARTITIONED window (hashpartitioning on the shard key) —
    never an unpartitioned global sort (SinglePartition window = the
    one-reducer cliff at 100 TB)."""
    import re

    import pyblazing_spark.plans as plans

    df = plans.REGISTRY["pipeline_sequence_packing"].fn(spark, sf_dir)
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    parts = re.findall(r"Exchange (\w+)", plan)
    # shard exchange for the window + the groupBy + presentation sort
    assert parts and all(
        p in ("hashpartitioning", "rangepartitioning") for p in parts
    ), parts


def test_scc_closure_plan_hangs_off_checkpoints(spark, sf_dir):
    """graph_scc's loop hygiene (same contract as the BFS audit): the
    final summary must read the driver-built frames, not re-derive the
    edge set — no parquet scan may survive into the result plan. Those
    frames are Arrow-built local relations (session.local_frame), never
    a pickled-row RDD."""
    import pyblazing_spark.plans as plans

    df = plans.REGISTRY["graph_scc"].fn(spark, sf_dir)
    phys = _executed_plan(df)
    assert "Scan parquet" not in phys, phys[:2000]
    assert "LocalTableScan" in phys, phys[:2000]
    assert "Scan ExistingRDD" not in phys, phys[:2000]


def test_unpivot_is_expand_only(spark, sf_dir):
    """expr_unpivot's scale claim: wide-to-long is ONE Expand over ONE
    scan — no join, no extra shuffle beyond the final presentation
    sort (at 100 TB unpivot must stay scan-bound)."""
    import pyblazing_spark.plans as plans

    df = plans.REGISTRY["expr_unpivot"].fn(spark, sf_dir)
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Expand") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 1, plan


def test_temperature_mix_fact_path_is_broadcast_only(spark, sf_dir):
    """sample_temperature_mix's scale claim: the corpus-scale scan joins
    the per-source thresholds by BROADCAST only — no SortMergeJoin, no
    shuffle of document rows besides the tiny per-source aggregations
    (at 100 TB the membership test must stay a scan-stage predicate)."""
    df = plans.REGISTRY["sample_temperature_mix"].fn(spark, sf_dir)
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        plan[:2000]
    )


def test_corpus_e2e_card_never_rescans_corpus_text(spark, sf_dir):
    """pipeline_corpus_e2e's no-rescan claim: raw corpus text is read
    exactly once (the persisted stage-1 feature build); the lineage
    card's own plan reads ONLY the stage-1 cache plus the materialized
    bounded id sets — zero file scans survive into it, and the doc-stage
    rows come from ONE cached-frame aggregation (a single stack Expand),
    not six aggregate branches re-executing the chain."""
    from pyblazing_spark.plans.curation import _corpus_e2e_build

    card, feat = _corpus_e2e_build(spark, sf_dir)
    try:
        plan = _executed_plan(card).split("== Initial Plan ==")[0]
        # every FileScan line is the cached relation's build-plan echo
        # printed INSIDE an InMemoryTableScan node (the feat cache's
        # build contains exactly one parquet scan): a real rescan of the
        # corpus would break the 1:1 count.
        n_cache = plan.count("InMemoryTableScan")
        assert n_cache >= 1, plan[:3000]
        assert plan.count("FileScan parquet") == n_cache, plan[:3000]
        # near-dup losers + contaminated ids enter as materialized RDDs
        assert "Scan ExistingRDD" in plan, plan[:3000]
        # the six doc-stage rows are one stack generate over one
        # aggregated row — never six aggregate branches
        assert plan.count("Generate stack") == 1, plan[:3000]
    finally:
        feat.unpersist()


def test_corpus_e2e_reliable_checkpoint_mode_same_card(spark, sf_dir, tmp_path):
    """VERDICT r12 #3: ``checkpoint_dir=`` flips the composition's
    loser/contaminated id sets from localCheckpoint to reliable FS
    checkpoints (session.make_ckpt) — the fault-tolerant 100-TB mode
    must produce the IDENTICAL lineage card. The executor-kill recovery
    proof is scripts/cluster_probe.py --kill-e2e (multi-JVM)."""
    from pyblazing_spark.plans.curation import _corpus_e2e_build

    card_l, feat_l = _corpus_e2e_build(spark, sf_dir)
    local_rows = [tuple(r) for r in card_l.collect()]
    feat_l.unpersist()
    card_r, feat_r = _corpus_e2e_build(
        spark, sf_dir, checkpoint_dir=str(tmp_path / "ck")
    )
    reliable_rows = [tuple(r) for r in card_r.collect()]
    feat_r.unpersist()
    assert reliable_rows == local_rows
    assert len(reliable_rows) == 7  # six doc stages + packed
