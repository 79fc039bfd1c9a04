"""pyspark.ml quality classifier (M1-M5): DPDN labels → features → seeded
RF → (indicator, quality) contract, interchangeable with the rule table."""

import pytest

from remine_spark import classifier, mining, synth
from remine_spark.corpus import sentences_from_pages

N_DOCS = 200


@pytest.fixture(scope="module")
def fitted(spark):
    pages = synth.pages_df(spark, N_DOCS, seed=42, num_partitions=4)
    sentences = sentences_from_pages(pages).cache()
    patterns = mining.mine_patterns(sentences).cache()
    docs = synth.generate_docs(N_DOCS, seed=42)
    ents, rels = classifier.distant_pools(synth.analytic_gold(docs))
    feats = classifier.featurize(
        patterns, classifier.corpus_features(patterns, sentences))
    rf, asm = classifier.fit_quality_forest(feats, ents, rels)
    scored = classifier.assign_quality_ml(feats, rf, asm).cache()
    return patterns, ents, rels, scored


def test_contract_columns(fitted):
    _p, _e, _r, scored = fitted
    assert {"indicator", "quality"} <= set(scored.columns)
    rows = scored.collect()
    assert all(r.indicator in ("EP", "RP", "BP") for r in rows)
    assert all(0.0 <= r.quality <= 1.0 for r in rows)


def test_unigram_overrides_verbatim(fitted):
    """predict_quality.h:143-155: VB*→RP q=1, IN/TO→RP q=1 for unigrams."""
    _p, _e, _r, scored = fitted
    verbs = scored.filter("n = 1 AND pos_key LIKE 'VB%'").collect()
    assert verbs and all(r.indicator == "RP" and r.quality == 1.0 for r in verbs)
    ins = scored.filter("n = 1 AND pos_key IN ('IN','TO')").collect()
    assert ins and all(r.indicator == "RP" and r.quality == 1.0 for r in ins)


def test_rf_recovers_pool_labels(fitted):
    """The forest must recover DPDN pool membership on its pattern table
    (train-set agreement — the reference reports the same kind of fit;
    features are strongly separable by construction)."""
    patterns, ents, rels, scored = fitted
    labeled = classifier.label_patterns(patterns, ents, rels).select(
        "ngram_key", "label")
    joined = scored.select("ngram_key", "indicator").join(labeled, "ngram_key")
    rows = joined.collect()
    want = {0: "BP", 1: "EP", 2: "RP"}
    agree = sum(1 for r in rows if r.indicator == want[r.label])
    assert agree / len(rows) >= 0.9, f"agreement {agree / len(rows):.3f}"


def test_multiword_entities_scored_ep(fitted):
    """Multi-token org names from the grammar (NNP NNP, in the entity
    pool) must classify EP with confident quality."""
    _p, ents, _r, scored = fitted
    multi_ents = [e for e in ents if " " in e]
    assert multi_ents
    hits = scored.filter(
        scored.ngram_key.isin(*multi_ents)).collect()
    assert hits
    ep = [r for r in hits if r.indicator == "EP"]
    assert len(ep) / len(hits) >= 0.9


def test_pipeline_with_ml_quality_passes_parity(spark, tmp_path,
                                                 monkeypatch):
    """End-to-end with the RF quality source: the mirror-parity gate is
    quality-source-agnostic (the mirror consumes the same fitted payload),
    so the distributed run must still match it at ≥0.95. A resumed run
    re-reads the patterns checkpoint without refitting the forest."""
    from remine_spark import eval as ev, pipeline

    docs = synth.generate_docs(120, seed=42)
    ents, rels = classifier.distant_pools(synth.analytic_gold(docs))
    pages = synth.pages_df(spark, 120, seed=42, num_partitions=4)
    out = pipeline.run_pipeline(
        spark, pages, str(tmp_path / "wd"), inner_iters=2, transe_epochs=3,
        resume=False, quality_pools=(ents, rels))
    m = pipeline.load_model(str(tmp_path / "wd"))
    mirror = ev.mirror_triples(docs, m.payload())
    got = set((r.url, r.subj, r.pred, r.obj) for r in out["triples"].collect())
    p, r, _ = ev.precision_recall(got, mirror)
    assert p >= 0.95 and r >= 0.95, f"P={p} R={r}"
    assert got  # non-degenerate

    def no_refit(*_a, **_kw):
        raise AssertionError("quality forest refit on a resume hit")

    def rows(df):
        return sorted((r.asDict() for r in df.collect()),
                      key=lambda d: d["ngram_key"])

    first = rows(out["patterns"])
    monkeypatch.setattr(classifier, "fit_quality_forest", no_refit)
    again = pipeline.run_pipeline(
        spark, pages, str(tmp_path / "wd"), inner_iters=2, transe_epochs=3,
        resume=True, quality_pools=(ents, rels))
    assert rows(again["patterns"]) == first
