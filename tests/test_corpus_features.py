"""Corpus-context feature families (feature_extraction.h:140-344) wired
through the real occurrences table + case_mask: hand-checkable values on a
tiny constructed corpus."""

import math

from remine_spark import classifier, mining, nlp


def _sent(doc_id, sent_id, toks):
    return (doc_id, sent_id, toks, nlp.pos_tag(toks), nlp.case_mask(toks))


def _build(spark):
    rows = []
    # 5 docs: "`` Acme Corp '' visited ( Globex Inc ) ."
    base = ["``", "Acme", "Corp", "''", "visited",
            "(", "Globex", "Inc", ")", "."]
    for d in range(5):
        rows.append(_sent(d, 0, base))
    # 2 extra docs where Acme appears alone (lifts its unigram freq)
    for d in range(5, 7):
        rows.append(_sent(d, 0, ["Acme", "visited", "gotham", "."]))
    return spark.createDataFrame(
        rows, "doc_id long, sent_id int, tokens array<string>, "
              "pos array<string>, case_mask array<int>")


def test_punctuation_and_completeness_features(spark):
    sents = _build(spark)
    pats = mining.mine_patterns(sents, min_sup=2, max_len=6)
    feats = classifier.corpus_features(pats, sents).collect()
    by_key = {r.ngram_key: r for r in feats}

    acme_corp = by_key["Acme Corp"]
    assert acme_corp.f_punc_quote == 1.0      # every occurrence quoted
    assert acme_corp.f_punc_paren == 0.0
    assert acme_corp.f_first_cap == 1.0       # case_mask all first-capital
    # freq(Acme Corp)=5, freq(Acme)=7 → complete_sub = 5/7
    assert abs(acme_corp.f_complete_sub - 5 / 7) < 1e-9

    globex = by_key["Globex Inc"]
    assert globex.f_punc_paren == 1.0         # every occurrence in parens
    assert globex.f_punc_quote == 0.0

    # statistical features exist and are finite for multi-word patterns
    assert acme_corp.f_stat_f1 > 0
    assert math.isfinite(acme_corp.f_stat_f4)
    # outside-idf: "Acme" occurs outside the pattern in docs 5-6 only —
    # those are other docs, so within ±1 sentence of each occurrence the
    # outside count is 0 here
    assert acme_corp.f_outside_idf == 0.0

    # unigrams: complete_sub defaults to 1, indep ratio = freq/corpus count
    acme = by_key["Acme"]
    assert acme.f_complete_sub == 1.0
    assert abs(acme.f_indep_ratio - 1.0) < 1e-9


def test_outside_idf_counts_window_tokens(spark):
    # "acme corp" pattern; the token "acme" ALSO appears right after it in
    # the same sentence → outside count 1 per occurrence for position 0
    toks = ["acme", "corp", "visited", "acme", "."]
    rows = [_sent(d, 0, toks) for d in range(3)]
    sents = spark.createDataFrame(
        rows, "doc_id long, sent_id int, tokens array<string>, "
              "pos array<string>, case_mask array<int>")
    pats = mining.mine_patterns(sents, min_sup=2, max_len=3)
    feats = {r.ngram_key: r for r in
             classifier.corpus_features(pats, sents, max_len=3).collect()}
    # position 0 token "acme": window count 2, in-pattern 1 → outside 1;
    # position 1 token "corp": outside 0 → idf-uniform weighting gives 0.5
    assert abs(feats["acme corp"].f_outside_idf - 0.5) < 1e-6
    # no token of "corp visited" recurs in the window → exactly 0
    assert feats["corp visited"].f_outside_idf == 0.0


def test_full_feature_vector_shape(spark):
    sents = _build(spark)
    pats = mining.mine_patterns(sents, min_sup=2)
    full = classifier.featurize(
        pats, classifier.corpus_features(pats, sents))
    assert set(classifier.FEATURES) <= set(full.columns)
    # 23 base + 13 corpus-context features ≥ reference's 25-feature family
    assert len(classifier.FEATURES) >= 25
    row = full.filter("ngram_key = 'Acme Corp'").collect()[0]
    assert row.f_pos_np == 1.0                # NNP NNP → all NP group
    assert row.f_stop_first == 0.0


def test_boundary_occurrences_count_as_zero_in_punc_ratios(spark):
    """Occurrences at sentence boundaries (no prev/next token) must count
    in the ratio denominator as 0-flags, not be NULL-dropped by avg()."""
    rows = [_sent(d, 0, ["acme", "corp", "visited", "."]) for d in range(3)]
    rows.append(_sent(3, 0, ["stark", "-", "acme", "corp", "."]))
    sents = spark.createDataFrame(
        rows, "doc_id long, sent_id int, tokens array<string>, "
              "pos array<string>, case_mask array<int>")
    pats = mining.mine_patterns(sents, min_sup=2, max_len=3)
    feats = {r.ngram_key: r for r in
             classifier.corpus_features(pats, sents, max_len=3).collect()}
    # dash-adjacent in 1 of 4 occurrences; the 3 sentence-start ones are 0
    assert abs(feats["acme corp"].f_punc_dash - 0.25) < 1e-9
    assert feats["acme corp"].f_punc_quote == 0.0
