"""M14 NP/DATE chunk-boost patterns (preprocessing.py:32-71 →
frequent_pattern_mining.h:236-258 loadExternalPatterns): sub-MIN_SUP noun
chunks enter the pattern table floored to MIN_SUP and can become mentions."""

import json
import os

import pytest
from pyspark.sql import functions as F

from remine_spark import mining, nlp, pipeline, synth

SENTS_SCHEMA = ("doc_id long, sent_id int, tokens array<string>, "
                "pos array<string>, chunk_a array<int>, chunk_b array<int>")


def _sents(spark, rows):
    """Hand-built sentences with the stage-1 chunk span columns that
    corpus.sentences_from_pages computes from the same tags."""
    full = []
    for (doc_id, sent_id, toks, pos) in rows:
        spans = nlp.boost_chunk_spans(pos)
        full.append((doc_id, sent_id, toks, pos, [a for a, _b in spans],
                     [b for _a, b in spans]))
    return spark.createDataFrame(full, SENTS_SCHEMA)


def test_boost_chunk_spans_grammar():
    # DATE: NNP CD
    assert nlp.boost_chunk_spans(["NNP", "CD"]) == [(0, 2)]
    # NP rule 1: DT JJ* NN+ (single-noun-with-DT chunks too)
    assert nlp.boost_chunk_spans(["DT", "JJ", "NN", "NNS"]) == [(0, 4)]
    # NP rule 2: NNP+ IN NNP+
    assert nlp.boost_chunk_spans(["NNP", "NNP", "IN", "NNP"]) == [(0, 4)]
    # NP rule 3: NNP+ (multi-token only emitted)
    assert nlp.boost_chunk_spans(["NNP", "NNP", "VBD", "NNP"]) == [(0, 2)]
    # rules consume tokens in order: DATE wins over the NNP+ run
    assert nlp.boost_chunk_spans(["NNP", "CD", "NNP", "NNP"]) == \
        [(0, 2), (2, 4)]
    # nothing chunkable
    assert nlp.boost_chunk_spans(["VBD", "IN", "DT"]) == []


def test_sub_minsup_chunk_floored_to_minsup(spark):
    # "stark wayne" occurs 3 times — far below min_sup=10 — but is an
    # NNP+ chunk, so it must enter the table with freq == min_sup
    rows = []
    for i in range(3):
        rows.append((i, 0, ["stark", "wayne", "visited", "gotham", "."],
                     ["NNP", "NNP", "VBD", "NNP", "."]))
    # high-frequency filler so mined patterns exist
    for i in range(3, 18):
        rows.append((i, 0, ["acme", "acquired", "globex", "."],
                     ["NNP", "VBD", "NNP", "."]))
    sents = _sents(spark, rows)
    pats = mining.mine_patterns_boosted(sents, min_sup=10, max_len=6)
    got = {tuple(r.ngram): r.freq for r in pats.collect()}
    assert got.get(("stark", "wayne")) == 10          # floored boost
    assert got.get(("acme",)) == 15                   # true freq kept
    # an already-mined chunk keeps its true frequency (no floor-down)
    assert all(f >= 10 for f in got.values())


def test_mining_plan_runs_no_job(spark):
    """The patterns stage is one lazy plan: building the scored, boosted
    table runs no Spark job (the pipeline's checkpoint write is its only
    action), and the corpus explode appears once in it, with no cache.
    Both sides of the boost join are aggregated by ``ngram_key`` and the
    join reuses that partitioning: two hash exchanges, none on the
    ``ngram`` array."""
    import re
    import uuid

    from remine_spark import model as model_mod

    rows = [(i, 0, ["stark", "wayne", "visited", "gotham", "."],
             ["NNP", "NNP", "VBD", "NNP", "."]) for i in range(3)]
    sents = _sents(spark, rows)
    sc = spark.sparkContext
    group = f"mining-plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        pats = model_mod.assign_quality(
            mining.mine_patterns_boosted(sents, min_sup=10, max_len=6))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert pats.columns == ["ngram", "freq", "pos_key", "n", "ngram_key",
                            "is_boost", "indicator", "quality"]
    plan = pats._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("posexplode") == 1
    assert "InMemoryRelation" not in plan
    executed = pats._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(ngram#" not in executed
    assert len(re.findall(r"Exchange hashpartitioning\(", executed)) == 2


def test_boost_pattern_becomes_mention_end_to_end(spark, tmp_path):
    """The recall story: a tail two-token NNP entity below MIN_SUP becomes
    a mention only through the boost path."""
    docs = synth.generate_docs(150, seed=42)
    # count a known two-NNP surface that the grammar emits rarely
    pages = synth.pages_df(spark, 150, seed=42, num_partitions=4)
    out = pipeline.run_pipeline(spark, pages, str(tmp_path / "wd"),
                                inner_iters=2, transe_epochs=2, resume=False)
    pats = out["patterns"]
    # boost-only patterns exist: multi-word noun chunks with freq == MIN_SUP
    boosted = pats.filter((F.col("n") > 1) & (F.col("freq") == mining.MIN_SUP))
    assert boosted.count() > 0
    # and at least one of them surfaces as a mention
    surfaces = {r.ngram_key for r in boosted.collect()}
    mention_texts = {r.text for r in out["mentions"].collect()}
    assert surfaces & mention_texts, "no boost pattern became a mention"


def test_stale_layout_resume_refused(spark, tmp_path):
    """A workdir stamped with another checkpoint layout (here: none, as
    before the layout was recorded) is refused on resume instead of being
    patched on read; resume=False recomputes and re-stamps it."""
    wd = str(tmp_path / "wd")
    pages = synth.pages_df(spark, 40, seed=1, num_partitions=2)
    pipeline.run_pipeline(spark, pages, wd, inner_iters=2, transe_epochs=2,
                          resume=False)
    marker = os.path.join(wd, "input_fingerprint.json")
    with open(marker) as f:
        blob = json.load(f)
    assert blob.pop("layout") == pipeline.CHECKPOINT_LAYOUT
    with open(marker, "w") as f:
        json.dump(blob, f)

    with pytest.raises(ValueError, match="layout"):
        pipeline.run_pipeline(spark, pages, wd, inner_iters=2,
                              transe_epochs=2, resume=True)
    out = pipeline.run_pipeline(spark, pages, wd, inner_iters=2,
                                transe_epochs=2, resume=False)
    assert out["triples"].count() > 0
    with open(marker) as f:
        assert json.load(f)["layout"] == pipeline.CHECKPOINT_LAYOUT


def test_pos_key_expr_matches_python_tagger(spark):
    """mining._pos_key_expr must transliterate nlp.pos_tag exactly."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    vocab = (list(nlp.LEXICON) + sorted(nlp.PUNC)
             + ["42", "1999", "walked", "jumped", "running", "things",
                "cats", "x", "zzqw", "abs", "ed", "ing", "s"])
    keys = [" ".join(rng.choices(vocab, k=rng.randint(1, 6)))
            for _ in range(300)]
    df = spark.createDataFrame([(k,) for k in keys], "ngram_key string")
    got = {r.ngram_key: r.pk for r in df.select(
        "ngram_key", mining._pos_key_expr("ngram_key").alias("pk")
    ).collect()}
    for k in keys:
        want = " ".join(nlp.pos_tag(k.split(" ")))
        assert got[k] == want, (k, got[k], want)


def test_boost_rows_zero_fill_corpus_features(spark):
    """The reference zero-fills every occurrence-derived feature for
    external (boost) patterns — id >= id2ends.size() guards in
    extractPunctuation (feature_extraction.h:210) / extractStatistical
    (:255) and the explicit completeness zero-fill (:394-400) — even
    though boost surfaces DO occur in the corpus (below min_sup). Only
    the stopword-family avg-idf stays live (extractStopwords has no
    guard)."""
    from remine_spark import classifier

    rows = []
    # quoted boost chunk occurrences: would yield f_punc_quote > 0 and a
    # live super-pattern if the zero-fill gate were missing
    for i in range(3):
        rows.append((i, 0, ['"', "stark", "wayne", '"', "visited", "."],
                     ['"', "NNP", "NNP", '"', "VBD", "."]))
    for i in range(3, 18):
        rows.append((i, 0, ["acme", "acquired", "globex", "."],
                     ["NNP", "VBD", "NNP", "."]))
    sents = (_sents(spark, rows)
             .withColumn("url", F.concat(F.lit("u"), F.col("doc_id")))
             .withColumn("case_mask", F.expr("transform(tokens, t -> 0)"))
             .withColumn("dep_head", F.expr("transform(tokens, t -> 0)")))
    pats = mining.mine_patterns_boosted(sents, min_sup=10, max_len=6)
    feats = classifier.featurize(
        pats, classifier.corpus_features(pats, sents))
    by_key = {r["ngram_key"]: r for r in feats.collect()}

    boost = by_key["stark wayne"]
    assert boost["is_boost"] is True
    for c in ("f_punc_quote", "f_punc_dash", "f_punc_paren", "f_first_cap",
              "f_all_cap", "f_complete_sub", "f_complete_super",
              "f_stat_f1", "f_stat_f2", "f_stat_f4", "f_outside_idf"):
        assert boost[c] == 0.0, (c, boost[c])
    # stopword-family avg idf stays live for external patterns
    assert boost["f_avg_idf"] > 0.0
    # mined rows keep live occurrence features (unigram sub ratio = 1)
    mined = by_key["acme"]
    assert mined["is_boost"] is False
    assert mined["f_complete_sub"] == 1.0
