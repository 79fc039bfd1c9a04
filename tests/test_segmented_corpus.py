"""S7/M7/M8 segmentation: the task-compacted EM kernel (`model._em_stats`)
counts exactly what the one Viterbi segmenter, `algo.segment_sentence`
(also run per sentence by `tuples.extraction_df`), chooses when it runs on
the driver over the same sentences — chosen pattern ids and the subtree
signatures of chosen multi-word spans."""

import math
from collections import Counter

from remine_spark import algo, model as model_mod, pipeline, synth


def test_em_stats_match_driver_segmenter(spark, tmp_path):
    pages = synth.pages_df(spark, 100, seed=11, num_partitions=3)
    out = pipeline.run_pipeline(spark, pages, str(tmp_path / "wd"),
                                inner_iters=2, transe_epochs=2, resume=False)
    m = pipeline.load_model(str(tmp_path / "wd"))
    sentences = out["sentences"]
    payload = m.payload()
    bc = spark.sparkContext.broadcast(payload)

    want_pat: Counter = Counter()
    want_sig: Counter = Counter()
    energies = []
    rows = sentences.select("tokens", "dep_head").collect()
    assert rows
    for r in rows:
        toks = list(r.tokens)
        deps = [(i, int(h)) for i, h in enumerate(r.dep_head)]
        segs, energy = algo.segment_sentence(
            toks, deps, payload["trie"], payload["patterns"],
            payload["prob"], payload["deps_logprob"],
            payload["default_logprob"])
        spans = [(s, e) for (s, e, _pid, _ok) in segs]
        # spans are ordered, non-overlapping and tile the sentence
        assert all(a < b for a, b in spans)
        assert all(spans[i][1] <= spans[i + 1][0]
                   for i in range(len(spans) - 1))
        assert not toks or (spans[0][0] == 0 and spans[-1][1] == len(toks))
        for (s, e, pid, _ok) in segs:
            if pid >= 0:
                want_pat[pid] += 1
                if e - s > 1:
                    want_sig[algo.tree_signature(deps, s, e)] += 1
        energies.append(float(energy) if energy > -1e80 else 0.0)

    got_sig, got_pat, got_energy = model_mod._em_stats(sentences, m, bc)
    bc.destroy()
    assert want_sig, "no multi-word span chosen"
    assert got_pat == dict(want_pat)
    assert got_sig == dict(want_sig)
    assert math.isclose(got_energy, math.fsum(energies), rel_tol=1e-9)
