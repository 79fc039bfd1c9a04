"""Physical-plan shape assertions for the r1-flagged scale-killers:
no cartesian products in the LSH-gated near-dup, no per-key cross-product
band join in a5, no single-partition global sort in s1, one signature pass
per LSH pair-generation plan, checkpoint-leaf loop plans.

Plan-rendering caveat: these assertions parse the plan STRING via the
PythonSQLUtils.explainString helper, and node naming varies across Spark
versions / AQE settings. All matching therefore goes through the two
helpers below — one place to adapt on upgrade — and is case-insensitive
regex, not exact substrings. The node spellings asserted here are Spark
4.1's ("Scan parquet", "ArrowEvalPython", "Exchange SinglePartition",
"WindowGroupLimit", "ExistingRDD"); if an upgrade renames one, fix the
REGEXES table, not the tests.
"""

import re

import pytest

from remine_spark.operators import relational, similarity

SF_DIR = "/root/testdata/sf0.001"

# Spark 4.1 node spellings, matched case-insensitively (see module note).
REGEXES = {
    "parquet_scan": r"scan parquet",
    "arrow_python": r"arrowevalpython",
    "existing_rdd": r"existingrdd",
    "single_partition_exchange": r"exchange singlepartition",
    "cartesian": r"cartesianproduct",
    "bnl_join": r"broadcastnestedloopjoin",
    "window_group_limit": r"windowgrouplimit",
    "range_partitioning": r"rangepartitioning",
}


def plan_of(df, mode: str = "formatted") -> str:
    """The single plan-dump seam (PythonSQLUtils.explainString is private
    API — adapt here on upgrade). mode='simple' prints each physical node
    exactly once; 'formatted' repeats nodes in its details section, so
    COUNT assertions must use 'simple'."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def n_nodes(plan: str, key: str) -> int:
    return len(re.findall(REGEXES[key], plan, flags=re.IGNORECASE))


def test_embedding_near_dup_no_cartesian(spark):
    plan = plan_of(similarity.embedding_near_dup(spark, SF_DIR))
    assert n_nodes(plan, "cartesian") == 0
    assert n_nodes(plan, "bnl_join") == 0


def test_a5_band_join_is_equi_join(spark):
    plan = plan_of(relational.a5_range_window_join(spark, SF_DIR))
    assert n_nodes(plan, "cartesian") == 0
    assert n_nodes(plan, "bnl_join") == 0
    # the join carries the bin as an equi-key (never user_id alone)
    assert "bin" in plan


def test_s1_zip_has_no_single_partition_sort(spark):
    plan = plan_of(relational.s1_zip_scan(spark, SF_DIR))
    assert n_nodes(plan, "single_partition_exchange") == 0
    # the ordinal's partition/running-sum fragment materializes via
    # localCheckpoint, so the final plan only shows the checkpointed scan;
    # assert the range-partition shape on the lazy fragment itself (the
    # one prefix-sum helper, shared with pack_token_budget)
    from pyspark.sql import functions as F

    from remine_spark.catalog import table

    frag = plan_of(relational._local_prefix_sums(
        table(spark, SF_DIR, "documents").select(
            "doc_id", F.lit(1).alias("_one")), "doc_id", "_one"))
    assert n_nodes(frag, "range_partitioning") >= 1
    assert n_nodes(frag, "single_partition_exchange") == 0


def test_ann_cosine_topk_partial_window_group_limit(spark):
    """The rank-filter must compile to a PARTIAL WindowGroupLimit below
    the exchange (Catalyst InferWindowGroupLimit): each map task forwards
    ≤ k rows per query, so the full candidate set never shuffles."""
    plan = plan_of(similarity.ann_cosine_topk(spark, SF_DIR))
    assert n_nodes(plan, "window_group_limit") >= 1
    assert re.search(r"partial", plan, flags=re.IGNORECASE)


def test_lsh_pair_gen_runs_signature_plan_once(spark):
    """LSH pair generation must NOT self-join the band table: a self-join
    executes the whole scan+signature subtree on both sides (two corpus
    scans, two Arrow kernels). banding.bucket_pairs aggregates each bucket
    once, so exactly one signature pass appears in the plan."""
    from remine_spark.operators import dedup

    plan = plan_of(dedup.dedup_minhash_lsh(spark, SF_DIR), "simple")
    assert n_nodes(plan, "arrow_python") == 1  # one minhash kernel
    assert n_nodes(plan, "parquet_scan") == 1  # one documents scan

    plan = plan_of(similarity.near_dup_candidates(spark, SF_DIR), "simple")
    assert n_nodes(plan, "arrow_python") == 1  # one sign-bucket kernel

    plan = plan_of(dedup.simhash_band_candidates(spark, SF_DIR), "simple")
    assert n_nodes(plan, "parquet_scan") == 1  # one simhash agg chain

    # two-phase verify: one signature pass (candidates) + one shingle
    # pass (melt-join-pivot verify) — never a per-side shingle join
    plan = plan_of(dedup.dedup_minhash_jaccard(spark, SF_DIR), "simple")
    assert n_nodes(plan, "arrow_python") == 1
    assert n_nodes(plan, "parquet_scan") == 2


def test_graph_iterative_loops_bound_plan_depth(spark):
    """Lineage truncation (localCheckpoint every 5 rounds) keeps the
    analyzed-plan size roughly constant in the iteration count — without
    it each PageRank round nests the previous round's plan."""
    from remine_spark.operators import graph

    small = graph.kg_pagerank(spark, SF_DIR, iters=6)
    big = graph.kg_pagerank(spark, SF_DIR, iters=16)
    size_small = len(small._jdf.queryExecution().analyzed().toString())
    size_big = len(big._jdf.queryExecution().analyzed().toString())
    # 16 iters without truncation would be ~3x the 6-iter plan; with a
    # checkpoint every 5 rounds both tails hold ≤ 5 nested rounds
    assert size_big < 2 * size_small

    # connected components checkpoints every round (labels is referenced
    # twice per round — lazy caching doubled the plan per round, every
    # leaf a full corpus re-derivation: ~1360 scan nodes measured); the
    # returned plan must read only checkpoint leaves, zero parquet scans
    cc = graph.kg_connected_components(spark, SF_DIR)
    cc_plan = plan_of(cc, "simple")
    assert n_nodes(cc_plan, "parquet_scan") == 0
    assert n_nodes(cc_plan, "existing_rdd") >= 1
