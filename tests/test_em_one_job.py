"""ReMine-Local's corpus passes each cost one Spark job: the subtree census
and every EM statistics pass are a single mapInPandas whose per-task
compacted rows the driver sums (no shuffle, so no second job). The EM
counts are integer sums, so they must not move with the input
partitioning."""

import uuid

import pytest

from remine_spark import mining, model as model_mod, synth
from remine_spark.corpus import sentences_from_pages


@pytest.fixture(scope="module")
def fitted(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("em_one_job") / "sentences")
    pages = synth.pages_df(spark, 80, seed=5, num_partitions=4)
    sentences_from_pages(pages).write.parquet(path)
    sentences = spark.read.parquet(path)
    tree_total = model_mod.subtree_census(sentences)
    patterns = model_mod.assign_quality(
        mining.mine_patterns_boosted(sentences))
    m = model_mod.model_from_patterns(patterns, tree_total)
    bc = spark.sparkContext.broadcast(m.payload())
    yield sentences, m, bc
    bc.destroy()


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    group = f"one-job-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_census_and_em_pass_run_one_job_each(spark, fitted):
    sentences, m, bc = fitted
    census, n_census = _jobs_of(
        spark, lambda: model_mod.subtree_census(sentences))
    assert census == m.tree_total
    assert n_census == 1
    (sigs, pats, energy), n_em = _jobs_of(
        spark, lambda: model_mod._em_stats(sentences, m, bc))
    assert sigs and pats and energy < 0
    assert n_em == 1


def test_em_counts_partition_invariant(spark, fitted):
    sentences, m, bc = fitted
    got = [model_mod._em_stats(sentences.repartition(n), m, bc)[:2]
           for n in (3, 17)]
    assert got[0] == got[1]
