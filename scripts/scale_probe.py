"""Scale probe: deterministic ~Kx self-replication of the sf0.1 fixtures
(~sf1 equivalent) + the full bench-query correctness/timing sweep there.

Usage: python scripts/scale_probe.py [K] [probe_dir]

The session is host-sized (``session.get_spark``); on a small host a 10x
or 100x run may need a larger heap via
``PYSPARK_SUBMIT_ARGS="--driver-memory 16g pyspark-shell"``.

What it does (VERDICT r3 #4 — the cheapest way to catch scale-dependent
bugs above the sf0.1 sweep):

1. Derives a Kx (default 10x) dataset from /root/testdata/sf0.1:
   fact tables (customer, orders, lineitem, events, documents,
   embeddings) are replicated K times with key offsets that preserve
   referential integrity (o_custkey tracks c_custkey, l_orderkey tracks
   o_orderkey, events.user_id tracks c_custkey); dimension tables
   (region, nation, supplier, part) are copied once — at 100 TB the
   dims stay dimension-sized, so replicating them would distort join
   plans away from the broadcast shapes the audits assert.
2. Writes the derived tables as parquet under the probe dir (Spark
   writes; DuckDB oracles then read the SAME files — no cross-engine
   derivation to disagree on).
3. Runs every bench=True catalog query there, timed, AND compares each
   against its DuckDB oracle over the same parquet (the driver's
   rows/schema/values contract via tests.oracle_utils).

Plan audits at probe scale: run separately with
    SPARK_GRAFT_TEST_SF_DIR=<probe_dir> python -m pytest tests/test_plan_audits.py

Key-offset scheme (fact keys stay in BIGINT range; replica k shifts by
k * OFFSET): customer/user 10_000_000; orders 100_000_000; documents
10_000_000; embeddings 10_000_000. Offsets are multiples of 4 and of
1000 so key-derived bucketing/modality expressions keep their
distributions. event ts is NOT shifted: replicas are distinct users
with identical activity patterns, which multiplies sessionization state
without moving the watermark window.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

C_OFF = 10_000_000
O_OFF = 100_000_000
D_OFF = 10_000_000
V_OFF = 10_000_000

DIMS = ("region", "nation", "supplier", "part")
#: fact table -> {column: per-replica offset}
FACT_SHIFTS: dict[str, dict[str, int]] = {
    "customer": {"c_custkey": C_OFF},
    "orders": {"o_orderkey": O_OFF, "o_custkey": C_OFF},
    "lineitem": {"l_orderkey": O_OFF},
    "events": {"user_id": C_OFF},
    "documents": {"doc_id": D_OFF},
    "embeddings": {"vec_id": V_OFF},
}


def build_probe(spark, src_dir: str, probe_dir: str, k: int) -> None:
    from pyspark.sql import functions as F

    from pyblazing_spark.sources.tables import load_table

    os.makedirs(probe_dir, exist_ok=True)
    for name in DIMS:
        load_table(spark, src_dir, name).write.mode("overwrite").parquet(
            f"{probe_dir}/{name}.parquet"
        )
    replicas = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("__k")
    for name, shifts in FACT_SHIFTS.items():
        df = load_table(spark, src_dir, name)
        dtypes = dict(df.dtypes)
        rep = df.select("*", replicas)
        for col, off in shifts.items():
            # long arithmetic: __k * off overflows INT at k >= 22 with
            # the 100M orders offset (ANSI mode raises, found at 100x)
            rep = rep.withColumn(
                col,
                (
                    F.col(col).cast("long")
                    + F.col("__k").cast("long") * F.lit(off).cast("long")
                ).cast(dtypes[col]),
            )
        rep.drop("__k").write.mode("overwrite").parquet(
            f"{probe_dir}/{name}.parquet"
        )


def main() -> int:
    # flags: --only=a,b,c  restrict to those catalog entries
    #        --no-oracle   timing-only (skip the DuckDB value compare —
    #                      the 100x heavy-tail run per VERDICT r8 #1:
    #                      correctness is certified at sf0.01/sf0.1/10x;
    #                      100x measures the SCALING of already-proven
    #                      plans, and unrolled iterative oracles would
    #                      dominate wall-clock there)
    #        --reuse       skip the probe build if probe_dir exists
    only: set[str] | None = None
    no_oracle = reuse = False
    pos: list[str] = []
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
        elif a == "--no-oracle":
            no_oracle = True
        elif a == "--reuse":
            reuse = True
        else:
            pos.append(a)
    k = int(pos[0]) if pos else 10
    probe_dir = pos[1] if len(pos) > 1 else f"/tmp/scale_probe_{k}x"
    src_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from driver_check import check_entry

    from pyblazing_spark.session import get_spark
    from tests.oracle_utils import oracle_connection

    spark = get_spark(app_name="scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    if reuse and os.path.isdir(f"{probe_dir}/lineitem.parquet"):
        print(f"probe reuse: {probe_dir}")
    else:
        build_probe(spark, src_dir, probe_dir, k)
        print(f"probe build ({k}x {src_dir} -> {probe_dir}): {time.time()-t0:.1f}s")

    import __spark_entry__ as E
    from pyblazing_spark.plans import REGISTRY

    con = oracle_connection(probe_dir)
    osql = E.oracle_sql()

    # Round-4 additions probed alongside the bench set: the heaviest new
    # operators, exactly the ones whose plans could change shape at 10x.
    extra = {
        "text_bm25", "graph_pagerank", "vector_pq", "ann_pq_adc",
        "sort_zorder_cluster", "pipeline_scd2", "agg_histogram",
        "dedup_semantic", "sort_pareto_frontier",
        "events_attribution", "text_lm_bigram", "events_anomaly_zscore",
        "pipeline_dedup_e2e",
        # round-5 continuation: the new operators whose plans could
        # change shape at 10x (iterative peel, doc windows, broadcast
        # tagging, global ntile, frame windows, streaming drain,
        # rollup/anti joins, weight-based bootstrap).
        "graph_kcore", "text_winnowing", "decontam_fraction",
        "pipeline_quality_deciles", "win_distinct_frame",
        "stream_window_topk", "agg_grouping_marker", "nested_not_exists",
        "sample_poisson_bootstrap",
        # later continuation batches
        "agg_weighted_median", "pipeline_source_gini", "pipeline_data_card",
        "text_tfidf_keywords", "join_dynamic_partition_pruning",
        "nested_recursive_cte", "events_ab_lift", "join_asof_forward",
        "expr_regexp_position", "source_json_roundtrip",
        # round-6 additions: literal-bitmap bloom pruning, driver-side
        # sketch merge, one-scan contract report, native lossy decode.
        "join_bloom_prune", "agg_countmin_rollup",
        "pipeline_schema_validate", "multimodal_decode_webp_lossy",
        "sample_group_split", "events_sequence_motif",
        "source_text_roundtrip",
        # round-7 additions: MJPEG-AVI mux/demux/decode per video doc;
        # column-drift snapshot reconciliation; shuffle-free small-file
        # compaction.
        "multimodal_video_frames", "pipeline_snapshot_diff",
        "sink_compaction", "stream_late_data_drop",
        "stream_checkpoint_recovery",
        # round-8 additions: jar-free sqlite bridge, uint widening,
        # intersection triangles, recall eval, RRF fusion, URL parse,
        # 2-round LPA, two-phase weighted median.
        "source_sqlite_roundtrip", "source_unsigned_widening",
        "ann_recall_eval", "retrieval_rrf_fusion",
        "expr_url_parse", "graph_label_propagation",
        "agg_weighted_median_scaled",
        # round-8 continuation: sketch top-k rollup, VARIANT extraction,
        # nDCG eval, paragraph dedup, bucketed overlap join, bounded BFS.
        "agg_approx_topk", "expr_variant_json", "retrieval_ndcg_eval",
        "dedup_paragraph", "join_interval_overlap", "graph_shortest_path",
        "events_rfm", "expr_collation",
        "pipeline_shard_manifest", "stream_foreachbatch_upsert",
        # round-9 additions whose plans could change shape at 10x
        # (two-frame nearest window, two-phase global ntile, timer
        # sessionizer drain, UnionLoop recursion, first-occurrence
        # cumulative distinct, dynamic partition overwrite, DP release).
        "join_asof_nearest", "agg_equidepth_histogram",
        "stream_session_timer", "nested_recursive_join",
        "win_running_distinct", "sink_dynamic_overwrite",
        "pipeline_dp_release", "source_avro_roundtrip",
        # round-10: BPE merge application (vocab-scale Python kernel)
        "text_bpe_encode",
        # round-11: coloring FW-BW SCC over the real supplier domain,
        # 64-merge in-process BPE learn, reliable-checkpoint components
        "graph_scc_pivot", "text_bpe_encode_k64",
        "dedup_components_reliable",
        # round-6 widening: scale-sensitive entries that had never run
        # at 10x (Arrow cogroup, two-phase global windows, wedge joins,
        # star rounds, interval-union windows, FFT kernels, bag setops,
        # dictionary fuzzy join, frame medians, watermarked joins).
        "join_asof_cogroup", "win_global_scaled", "graph_triangles",
        "dedup_components_star", "dedup_substring_coverage",
        "dedup_containment", "multimodal_audio_spectrum",
        "setop_bag_semantics", "join_edit_distance", "win_median_frame",
        "sample_weighted_reservoir", "stream_stream_join",
        "events_gap_fill_linear", "text_hash_classifier", "expr_math",
        # round-13/14: transactional table family (snapshot log, CDF both
        # modes, streaming source/sink) + the persisted IVF index — the
        # components whose write amplification / manifest pruning /
        # probe-read shapes are exactly what 10x stresses.
        "sink_txn_snapshot_log", "txn_change_feed",
        "txn_change_feed_written", "stream_txn_upsert",
        "stream_txn_source", "ann_ivf_persisted",
    }
    timings: dict[str, float] = {}
    n_ok = n_bad = 0
    for name, spec in sorted(REGISTRY.items()):
        if only is not None:
            if name not in only:
                continue
        elif not (spec.bench or name in extra):
            continue
        oracle = None if no_oracle else osql.get(name)
        dt = check_entry(spark, con, name, spec.fn, probe_dir, oracle)
        if dt is None:
            n_bad += 1
        else:
            timings[name] = round(dt, 2)
            n_ok += 1
    print(
        json.dumps(
            {
                "probe": f"{k}x {os.path.basename(src_dir.rstrip('/'))}",
                "total_sec": round(sum(timings.values()), 2),
                "queries": timings,
                "ok": n_ok,
                "failed": n_bad,
            }
        )
    )
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
