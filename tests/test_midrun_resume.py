"""Mid-run resumability (north_star: segment→…→embed→rank resume MID-run,
not just at stage boundaries): a run killed inside the EM fit or inside
TransE training continues from its last intra-stage checkpoint and ends
bit-identical to an uninterrupted run."""

import numpy as np
import pytest

from remine_spark import model as model_mod, pipeline, synth, transe

N_DOCS = 120


def test_transe_epoch_resume_identical(spark, tmp_path):
    wd = str(tmp_path / "wd")
    pages = synth.pages_df(spark, N_DOCS, seed=42, num_partitions=4)
    out = pipeline.run_pipeline(spark, pages, wd, inner_iters=2,
                                transe_epochs=2, resume=False)
    tuples = out["tuples"]

    ck = str(tmp_path / "te.json")
    # uninterrupted 6-epoch run
    full = transe.fit(spark, tuples, dim=8, epochs=6)
    # killed after 3 epochs (checkpoint_every=3 saves at epoch idx 2)…
    transe.fit(spark, tuples, dim=8, epochs=3, checkpoint_path=ck,
               checkpoint_every=3)
    # …resumed to 6: must continue at epoch 3 and match exactly
    resumed = transe.fit(spark, tuples, dim=8, epochs=6, checkpoint_path=ck,
                         checkpoint_every=3)
    assert resumed.ent2id == full.ent2id
    assert np.array_equal(resumed.E, full.E)
    assert np.array_equal(resumed.R, full.R)


def test_em_outer_iteration_resume_identical(spark, tmp_path):
    pages = synth.pages_df(spark, N_DOCS, seed=42, num_partitions=4)

    # uninterrupted run
    wd_full = str(tmp_path / "full")
    pipeline.run_pipeline(spark, pages, wd_full, outer_iters=2,
                          inner_iters=2, transe_epochs=2, resume=False)
    want = pipeline.load_model(wd_full)

    # killed between outer iteration 1 and 2
    wd_kill = str(tmp_path / "kill")
    orig = model_mod.rectify_frequency
    calls = {"n": 0}

    def bomb(spark_, sentences, m, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated mid-fit kill")
        return orig(spark_, sentences, m, **kw)

    model_mod.rectify_frequency = bomb
    try:
        with pytest.raises(RuntimeError):
            pipeline.run_pipeline(spark, pages, wd_kill, outer_iters=2,
                                  inner_iters=2, transe_epochs=2, resume=True)
    finally:
        model_mod.rectify_frequency = orig

    partial = pipeline.load_model(wd_kill, "segmodel_partial.json")
    assert partial is not None and partial.outer_done == 1

    # relaunch: resumes at outer iteration 2, final model identical
    pipeline.run_pipeline(spark, pages, wd_kill, outer_iters=2,
                          inner_iters=2, transe_epochs=2, resume=True)
    got = pipeline.load_model(wd_kill)
    assert got.patterns == want.patterns
    assert got.deps_prob == want.deps_prob
