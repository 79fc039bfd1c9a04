"""P2 POS-tag prune (pruneByPOSTag, frequent_pattern_mining.h:223-234,
opt-in like the reference's ENABLE_POS_PRUNE). The reference applies the
prune at every Apriori growth step (:350-375), so the net semantics are:
a pattern survives iff no tag AFTER position 0 is a forbidden expansion,
and its first tag is not forbidden as both initial and expansion (a
pruned unigram occurrence can never start a pattern)."""

from remine_spark import mining, nlp


def _sents(spark):
    toks = ["acme", "acquired", "globex", "in", "gotham", "."]
    rows = [(d, 0, toks, nlp.pos_tag(toks)) for d in range(12)]
    return spark.createDataFrame(
        rows, "doc_id long, sent_id int, tokens array<string>, "
              "pos array<string>")


def test_pos_prune_drops_any_noninitial_expansion(spark):
    sents = _sents(spark)
    base = {r.ngram_key: r.freq for r in
            mining.mine_patterns(sents, min_sup=2, max_len=3).collect()}
    assert "globex in" in base and "in" in base
    assert "globex in gotham" in base

    pruned = {r.ngram_key: r.freq for r in mining.mine_patterns(
        sents, min_sup=2, max_len=3,
        pos_prune=(set(), {"IN"})).collect()}
    # any multi-gram with IN at a non-initial position is gone — trailing
    # ('globex in') AND mid-pattern ('globex in gotham', which the old
    # last-tag-only test wrongly kept: the reference can never extend
    # past a forbidden-expansion token)
    assert "globex in" not in pruned and "acquired globex in" not in pruned
    assert "globex in gotham" not in pruned
    # 'in' unigram stays (IN not in no_initial); a pattern may START with
    # IN when IN is only forbidden as expansion ('in gotham' grows from
    # the unpruned 'in' occurrence by a NNP token)
    assert "in" in pruned
    assert "in gotham" in pruned
    assert "acme acquired" in pruned

    both = {r.ngram_key: r.freq for r in mining.mine_patterns(
        sents, min_sup=2, max_len=3,
        pos_prune=({"IN"}, {"IN"})).collect()}
    # forbidden-as-both: the unigram occurrence is pruned, so neither the
    # unigram nor anything starting at it survives
    assert "in" not in both
    assert "in gotham" not in both
    # the prune keeps or drops every occurrence of a key together (its
    # predicate reads only the key's tags), so a kept key's freq is the
    # unpruned one
    for kept in (pruned, both):
        assert kept and all(f == base[k] for k, f in kept.items())
