"""The session's generated-code cache holds the engine's working set.

Spark keeps Janino-compiled classes in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries (default 100). One round
of the ``operators_batch`` entries alone generates more classes than
that, so at the default a repeated round recompiles every class it
needs; sized by ``session.BUILD_CONFS``, the repeat compiles nothing.
"""

from __future__ import annotations

from pyblazing_spark.plans import REGISTRY
from pyblazing_spark.session import BUILD_CONFS, codegen_compiles

CACHE_KEY = "spark.sql.codegen.cache.maxEntries"

#: perfbench's ``operators_batch`` round (``OPERATOR_ENTRIES`` in
#: perfbench/workloads.py), copied so the test suite does not import the
#: benchmark.
OPERATOR_ENTRIES = (
    "text_stats", "text_multi_keyword_tag", "text_unigram_tokenize",
    "text_bpe_encode", "dedup_minhash_lsh", "dedup_paragraph",
    "ann_cosine_topk", "multimodal_features", "join_bloom_prune",
    "pipeline_quality_deciles", "graph_scc", "graph_scc_pivot",
)


def test_repeated_round_compiles_nothing(spark, sf_dir):
    assert spark.conf.get(CACHE_KEY) == BUILD_CONFS[CACHE_KEY]

    def run_round():
        for name in OPERATOR_ENTRIES:
            REGISTRY[name].fn(spark, sf_dir).toPandas()

    run_round()
    before = codegen_compiles(spark)
    run_round()
    assert codegen_compiles(spark) - before == 0
