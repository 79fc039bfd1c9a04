"""M1-M5 as a real distributed classifier: feature extraction, DPDN
labeling, and a pyspark.ml RandomForest phrase-quality model.

The reference trains a 1000-tree extremely-randomized forest
(random_forest.h:108-290) on distant-supervision labels
(label_generation.h:215-293, method "DPDN": Distant Positive + Distant
Negative) over 25 engineered features (feature_extraction.h:363-408).
Its seeding is time(0) (label_generation.h:88), so exact replication is
impossible by construction; this module reproduces the *pipeline*: pools →
labels → features → seeded RF → per-pattern (indicator, quality) with the
verbatim unigram POS overrides (predict_quality.h:143-155).

The deterministic rule table in model.assign_quality remains the default
quality source (round-1 parity rationale in model.py); `assign_quality_ml`
is the drop-in alternative — downstream EM/Viterbi and the mirror-parity
gate consume only the (indicator, quality) contract, so both sources pass
the same end-to-end checks.

Scale notes: labeling is two broadcast semi-joins (pools are small);
features are pure column expressions; the RF trains on the pattern table
(≤ millions of rows — bounded by MIN_SUP, tiny next to the corpus) and is
broadcast for scoring, exactly how the reference ships its forest to
segmentation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import model as model_mod

LABEL_BP, LABEL_EP, LABEL_RP = 0, 1, 2
POOL_MIN_FREQ = 1  # utils.py:41 uses >9 on a 60k-doc corpus; scaled fixture


def distant_pools(gold: list[tuple]) -> tuple[set[str], set[str]]:
    """A9 (utils.py:27-44, 50-111): entity / relation surface pools from
    gold annotations ('_'-joined canonical forms → space-joined surfaces)."""
    ents: dict[str, int] = {}
    rels: dict[str, int] = {}
    for (_url, s, p, o) in gold:
        for e in (s, o):
            k = e.replace("_", " ")
            ents[k] = ents.get(k, 0) + 1
        k = p.replace("_", " ")
        rels[k] = rels.get(k, 0) + 1
    return ({k for k, c in ents.items() if c >= POOL_MIN_FREQ},
            {k for k, c in rels.items() if c >= POOL_MIN_FREQ})


def label_patterns(patterns: DataFrame, ent_pool: set[str],
                   rel_pool: set[str]) -> DataFrame:
    """M3/J4 (label_generation.h:215-293, DPDN): distant positive from the
    pools, distant negative otherwise. Pool membership is `isin` over the
    space-joined surface (a broadcast semi-join in plan terms)."""
    surface = F.array_join("ngram", " ")
    return patterns.withColumn(
        "label",
        F.when(surface.isin(*sorted(ent_pool)) if ent_pool else F.lit(False),
               LABEL_EP)
        .when(surface.isin(*sorted(rel_pool)) if rel_pool else F.lit(False),
              LABEL_RP)
        .otherwise(LABEL_BP))


_NOUN = "^(NN|NNS|NNP|NNPS)$"
_VERB = "^VB"
_STOPS = ("the", "a", "an", "of", "in", "and", "or", "but", "is", "to",
          "with", "at", "on", "from", "by")

_EPS = 1e-8  # utils.h:36

# tmp/pos_tag.map verbatim (loadPosgroup, feature_extraction.h:78-90);
# WP maps to NA here — the reference maps it to a group outside its own
# 11-key featureMaps (a latent off-by-one in extractPosRatio).
_POS_TAG_GROUP = {
    "CC": "CC", "CD": "CD", "DT": "DT", "EX": "ADV", "FW": "NA", "IN": "IN",
    "AFX": "ADJ", "JJ": "ADJ", "JJR": "ADJ", "JJS": "ADJ", "LS": "NA",
    "MD": "VB", "NN": "NP", "NNS": "NP", "NNP": "NP", "NNPS": "NP",
    "PDT": "ADJ", "POS": "PART", "PRP": "PRP", "PRP$": "ADJ", "RB": "ADV",
    "RBR": "ADV", "RBS": "ADV", "RP": "PART", "SYM": "NA", "TO": "PART",
    "UH": "NA", "VB": "VB", "BES": "VB", "HVS": "VB", "VBD": "VB",
    "VBG": "VB", "VBN": "VB", "VBP": "VB", "VBZ": "VB", "WDT": "ADJ",
    "WP": "NA", "WP$": "ADJ", "WRB": "ADV",
}
POS_GROUPS = ["CC", "CD", "DT", "IN", "PART", "ADJ", "NP", "PRP", "ADV",
              "VB", "NA"]

_QUOTES = ('"', "'", "``", "''")
_OPEN_PAREN = ("(", "-lrb-")
_CLOSE_PAREN = (")", "-rrb-")
_DASHES = ("-", "--")


def _eq_lit(value: str):
    """One-arg HOF lambda factory (a default-arg closure would read as the
    two-arg (element, index) lambda form to pyspark)."""
    return lambda g: g == value


def _pos_group_map():
    items = []
    for k, v in sorted(_POS_TAG_GROUP.items()):
        items += [F.lit(k), F.lit(v)]
    return F.create_map(*items)


def corpus_features(patterns: DataFrame, sentences: DataFrame,
                    max_len: int = 6) -> DataFrame:
    """The reference's corpus-context feature families, re-expressed over
    the real ``mining.occurrences`` table (the id2ends equivalent) joined
    to token/case arrays:

    - punctuation×4 (feature_extraction.h:209-250): quote/dash/parenthesis
      context and all-first-capital ratios over occurrences, from the
      sentences' token arrays and S3 ``case_mask`` (dash is span-adjacency
      here: the columnar corpus keeps dashes as tokens, so a dash can never
      be *inside* a pattern span as the mask-based reference stores it);
    - completeness×2 (feature_extraction.h:140-181): freq / best
      sub-pattern freq (J2 shape: prefix/suffix joins) and best
      super-pattern freq / freq (J3 shape: occurrence±1-token join);
    - statistical×4 (feature_extraction.h:255-344): best-split f1/f2/f4
      and the ±1-sentence outside-context idf feature (A5 shape);
    - avg idf (extractStopwords tail, feature_extraction.h:195-205).

    Returns one row per ngram_key. M14 boost-injected rows (``is_boost``)
    zero-fill EVERY occurrence-derived family — punctuation, completeness,
    statistical, outside-idf — exactly like the reference's external-
    pattern guards (``id >= id2ends.size()`` in extractStatistical :255 /
    extractPunctuation :210, and the explicit completeness zero-fill at
    feature_extraction.h:394-400). Boost patterns DO have corpus
    occurrences (their freq is merely below min_sup), so the zero-fill
    must gate on the flag, not on occurrence absence; only the stopword-
    family avg-idf stays live for them (extractStopwords has no such
    guard). The returned table is persisted (bounded: one row per
    pattern) — the CALLER owns the unpersist once the forest fit and the
    scoring pass have consumed it (run_pipeline releases it after the
    patterns checkpoint).
    """
    from remine_spark import mining

    from pyspark import StorageLevel

    if "is_boost" not in patterns.columns:
        patterns = patterns.withColumn("is_boost", F.lit(False))
    pat = patterns.select("ngram", "ngram_key", "n", "freq",
                          "is_boost").cache()
    live = pat.filter(~F.col("is_boost"))
    sents = sentences.select("doc_id", "sent_id", "tokens", "case_mask")
    # ONE occurrences materialization feeds both the punctuation flags and
    # the outside-idf window pass (each re-derivation would re-run the
    # corpus-scale candidate explode + semi-join). Boost rows are excluded
    # from the semi-join build side: their occurrence-derived features are
    # zero-filled anyway, so scanning for them is wasted shuffle.
    occ_base = (
        mining.occurrences(sentences, live, max_len)
        .withColumn("ngram_key", F.array_join("ngram", " "))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    occ = occ_base.join(sents, ["doc_id", "sent_id"])

    prev_t = F.when(F.col("start") >= 1, F.element_at("tokens", F.col("start")))
    next_t = F.when(F.col("end_pos") + 2 <= F.size("tokens"),
                    F.element_at("tokens", F.col("end_pos") + 2))
    span_mask = F.expr("slice(case_mask, start + 1, n)")
    # boundary occurrences (prev/next token absent → NULL) must count as 0
    # in the ratios, exactly like the reference's boundary-false masks —
    # avg() would silently DROP the NULL rows and inflate the ratio
    def _flag(cond):
        return F.coalesce(cond, F.lit(False)).cast("double")

    occ_flags = occ.select(
        "ngram_key", "doc_id", "sent_id", "start",
        _flag(prev_t.isin(*_QUOTES) & next_t.isin(*_QUOTES)).alias("q"),
        _flag(prev_t.isin(*_DASHES) | next_t.isin(*_DASHES)).alias("dash"),
        _flag(prev_t.isin(*_OPEN_PAREN) & next_t.isin(*_CLOSE_PAREN))
        .alias("par"),
        F.forall(span_mask, lambda c: c.isin(1, 3)).cast("double").alias("cap"),
        F.forall(span_mask, lambda c: c == 3).cast("double").alias("allcap"),
        prev_t.alias("prev_t"), next_t.alias("next_t"),
    )
    punc = occ_flags.groupBy("ngram_key").agg(
        F.coalesce(F.avg("q"), F.lit(0.0)).alias("f_punc_quote"),
        F.coalesce(F.avg("dash"), F.lit(0.0)).alias("f_punc_dash"),
        F.coalesce(F.avg("par"), F.lit(0.0)).alias("f_punc_paren"),
        F.coalesce(F.avg("cap"), F.lit(0.0)).alias("f_first_cap"),
        F.coalesce(F.avg("allcap"), F.lit(0.0)).alias("f_all_cap"),
    )

    # completeness: super (J3 occurrence-extension join) …
    freqs = pat.select(F.col("ngram_key").alias("k"),
                       F.col("freq").alias("kfreq"))
    supers = (
        occ_flags.select(
            "ngram_key",
            F.explode(F.array(
                F.when(F.col("prev_t").isNotNull(),
                       F.concat_ws(" ", "prev_t", "ngram_key")),
                F.when(F.col("next_t").isNotNull(),
                       F.concat_ws(" ", "ngram_key", "next_t")),
            )).alias("k"))
        .filter(F.col("k").isNotNull())
        .join(F.broadcast(freqs), "k")
        .groupBy("ngram_key").agg(F.max("kfreq").alias("super_freq"))
    )
    # … and sub (J2 prefix/suffix joins), n > 1 only; boost rows excluded
    # (completeness zero-fills for them) — but `freqs` above keeps ALL
    # patterns including boost: the reference's sub/super lookups go
    # through pattern2id, which contains external patterns at their
    # floored currentFreq
    multi = live.filter(F.col("n") > 1)
    subs = (
        multi.select(
            "ngram_key", "freq",
            F.expr("array_join(slice(ngram, 1, n - 1), ' ')").alias("pre_k"),
            F.expr("array_join(slice(ngram, 2, n - 1), ' ')").alias("suf_k"))
        .join(F.broadcast(freqs.select(F.col("k").alias("pre_k"),
                                       F.col("kfreq").alias("pre_f"))),
              "pre_k", "left")
        .join(F.broadcast(freqs.select(F.col("k").alias("suf_k"),
                                       F.col("kfreq").alias("suf_f"))),
              "suf_k", "left")
        .select("ngram_key",
                (F.col("freq") / F.greatest(
                    "freq", F.coalesce("pre_f", F.lit(0)),
                    F.coalesce("suf_f", F.lit(0))))
                .alias("f_complete_sub"))
    )

    # statistical f1/f2/f4: best binary split by probability product.
    # probability = (freq + EPS) / (corpusN / size) (extract(), :363-368)
    corpus_n = (sents.select(F.sum(F.size("tokens")).alias("s"))
                .first()["s"] or 1)

    def _prob(freq_col, size_col):
        return (freq_col + F.lit(_EPS)) / (F.lit(float(corpus_n)) / size_col)

    splits = (
        multi.select("ngram_key", "ngram", "n", "freq",
                     F.explode(F.expr("sequence(1, n - 1)")).alias("i"))
        .select(
            "ngram_key", "n", "freq", "i",
            F.expr("array_join(slice(ngram, 1, i), ' ')").alias("pre_k"),
            F.expr("array_join(slice(ngram, i + 1, n - i), ' ')")
            .alias("suf_k"))
        .join(F.broadcast(freqs.select(F.col("k").alias("pre_k"),
                                       F.col("kfreq").alias("pre_f"))),
              "pre_k", "left")
        .join(F.broadcast(freqs.select(F.col("k").alias("suf_k"),
                                       F.col("kfreq").alias("suf_f"))),
              "suf_k", "left")
        .withColumn("pre_f", F.coalesce("pre_f", F.lit(0)))
        .withColumn("suf_f", F.coalesce("suf_f", F.lit(0)))
        .withColumn("p_pre", _prob(F.col("pre_f"), F.col("i")))
        .withColumn("p_suf", _prob(F.col("suf_f"), F.col("n") - F.col("i")))
    )
    best = (
        splits.groupBy("ngram_key")
        .agg(F.max(F.struct((F.col("p_pre") * F.col("p_suf")).alias("pp"),
                            "pre_f", "suf_f"))
             .alias("b"),
             F.first("freq").alias("freq"),
             F.first("n").alias("n"))
        .select(
            "ngram_key",
            (_prob(F.col("freq"), F.col("n")) / F.col("b.pp")).alias("f1"),
            (F.col("freq") / F.sqrt(F.col("b.pre_f") + F.lit(_EPS))
             / F.sqrt(F.col("b.suf_f") + F.lit(_EPS))).alias("f_stat_f2"))
        .select("ngram_key",
                F.col("f1").alias("f_stat_f1"), "f_stat_f2")
    )
    best = best.join(multi.select("ngram_key", "freq"), "ngram_key").select(
        "ngram_key", "f_stat_f1", "f_stat_f2",
        (F.col("freq") * F.log("f_stat_f1")).alias("f_stat_f4"))

    # idf per token (A3) — used by avg-idf and the outside feature
    idf = mining.idf(sentences).select("token", "idf")
    avg_idf = (
        pat.select("ngram_key", F.explode("ngram").alias("token"))
        .join(F.broadcast(idf), "token", "left")
        .groupBy("ngram_key")
        .agg(F.avg(F.coalesce("idf", F.lit(0.0))).alias("f_avg_idf"))
    )

    # outside-context idf feature (feature_extraction.h:299-344): window =
    # sentence ±1, per-position counts of the pattern token in the window
    # minus in-pattern counts, averaged over occurrences, idf-weighted.
    # The window width matches the reference exactly — tracing its
    # boundary walk (`for (int sentences = 0; st >= 0 && sentences < 2;
    # --st) if (isEndOfSentence(st-1)) ++sentences;`): starting inside
    # sentence k, the FIRST boundary counted is k's own start, the second
    # is k-1's start, after which st rests on the end-of-sentence token of
    # k-2 and context counts from st+1 — i.e. from the START of k-1.
    # Forward symmetrically stops after the end of k+1. So the context is
    # sentences {k-1, k, k+1}: ±1, not ±2 (the walk counts two *crossed
    # boundaries*, not two extra sentences per side).
    # The window join is the A5 time-bin shape: equi-join on
    # (doc_id, window sent id) — never a cross product.
    occ_pos = (
        occ_base
        .select("doc_id", "sent_id", "start", "ngram_key",
                F.posexplode("ngram").alias("j", "tok"),
                F.col("ngram"))
        .withColumn("local",
                    F.expr("size(filter(ngram, x -> x = tok))").cast("long"))
        .drop("ngram")
        .withColumn("wsid", F.explode(F.array(
            F.col("sent_id") - 1, F.col("sent_id"), F.col("sent_id") + 1)))
    )
    win = sents.select("doc_id", F.col("sent_id").alias("wsid"), "tokens")
    outside = (
        occ_pos.join(win, ["doc_id", "wsid"])
        .withColumn("cnt",
                    F.expr("size(filter(tokens, x -> x = tok))").cast("long"))
        .groupBy("doc_id", "sent_id", "start", "ngram_key", "j", "tok")
        .agg((F.sum("cnt") - F.first("local")).alias("out_j"))
        .groupBy("ngram_key", "j", "tok")
        .agg((F.sum("out_j") / F.count(F.lit(1))).alias("avg_out"))
        .join(F.broadcast(idf), F.col("tok") == F.col("token"), "left")
        .groupBy("ngram_key")
        .agg((F.sum(F.col("avg_out") * F.coalesce("idf", F.lit(0.0)))
              / F.sum(F.coalesce("idf", F.lit(_EPS))))
             .alias("f_outside_idf"))
    )

    # unigram independent ratio (extractUnigram :499): pattern currentFreq
    # / raw unigram count. Pre-EM these are the same number (mined unigram
    # freq IS the corpus count), so the ratio is 1.0 at train time and
    # only diverges when rectified (post-Viterbi) frequencies are fed
    # back; the formula stays, the corpus-wide recount does not.
    indep = (
        pat.filter(F.col("n") == 1).select("ngram_key", "freq")
        .join(F.broadcast(freqs.select(F.col("k").alias("ngram_key"),
                                       F.col("kfreq").alias("uni_f"))),
              "ngram_key", "left")
        .select("ngram_key",
                (F.col("freq") / F.greatest(F.coalesce("uni_f", F.lit(0)),
                                            F.lit(1)))
                .alias("f_indep_ratio"))
    )

    out = (
        pat.select("ngram_key", "is_boost")
        .join(punc, "ngram_key", "left")
        .join(supers.select(
            "ngram_key", F.col("super_freq")), "ngram_key", "left")
        .join(pat.select("ngram_key", "freq"), "ngram_key")
        .withColumn("f_complete_super",
                    F.coalesce(F.col("super_freq") / F.col("freq"),
                               F.lit(0.0)))
        .drop("super_freq", "freq")
        .join(subs, "ngram_key", "left")
        .join(best, "ngram_key", "left")
        .join(avg_idf, "ngram_key", "left")
        .join(outside, "ngram_key", "left")
        .join(indep, "ngram_key", "left")
        # unigrams have no sub-pattern (ratio 1); boost rows zero-fill
        # completeness like every other occurrence-derived family
        .withColumn("f_complete_sub",
                    F.coalesce("f_complete_sub",
                               F.when(F.col("is_boost"), 0.0)
                               .otherwise(1.0)))
        .drop("is_boost")
    )
    fill = {c: 0.0 for c in CORPUS_FEATURES}
    # materialize the BOUNDED result (one row per pattern) so both forest
    # fits and the scoring pass reuse it, then release the corpus-scale
    # intermediates
    out = out.fillna(fill).persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    occ_base.unpersist()
    pat.unpersist()
    return out


CORPUS_FEATURES = [
    "f_punc_quote", "f_punc_dash", "f_punc_paren", "f_first_cap",
    "f_all_cap", "f_complete_sub", "f_complete_super", "f_stat_f1",
    "f_stat_f2", "f_stat_f4", "f_avg_idf", "f_outside_idf", "f_indep_ratio",
]


def featurize(patterns: DataFrame, corpus_feats: DataFrame) -> DataFrame:
    """M1/M2: the engineered per-pattern feature table.

    Pattern-local families (frequency, length, POS-group ratios
    feature_extraction.h:123-137, stopword flags/ratio :184-205) are pure
    column expressions; the corpus-context families (punctuation,
    completeness, statistical, outside-idf, independence) come from
    ``corpus_feats``, the :func:`corpus_features` table of the same
    patterns, joined on ``ngram_key``: the reference's full 25-multi-word /
    20-unigram coverage. The result is the one table that both
    :func:`fit_quality_forest` and :func:`assign_quality_ml` take, so the
    corpus-scale occurrence explode runs once per pipeline."""
    tags = F.split("pos_key", " ")
    toks = F.col("ngram")
    nf = F.size(F.filter(tags, lambda t: t.rlike(_NOUN))) / F.size(tags)
    vf = F.size(F.filter(tags, lambda t: t.rlike(_VERB))) / F.size(tags)
    pf = F.size(F.filter(tags, lambda t: t.isin("NNP", "NNPS"))) / F.size(tags)
    sf = F.size(F.filter(toks, lambda t: t.isin(*_STOPS))) / F.size(toks)
    gmap = _pos_group_map()
    grouped = F.transform(
        tags, lambda t: F.coalesce(F.element_at(gmap, t), F.lit("NA")))
    first_tok = F.element_at(toks, 1)
    base = patterns.select(
        "*",
        F.log(F.col("freq") + 1).alias("f_logfreq"),
        F.col("n").cast("double").alias("f_len"),
        nf.alias("f_noun_ratio"),
        vf.alias("f_verb_ratio"),
        pf.alias("f_propn_ratio"),
        sf.alias("f_stop_ratio"),
        F.element_at(tags, 1).rlike(_NOUN).cast("double").alias("f_first_noun"),
        F.element_at(tags, -1).rlike(_NOUN).cast("double").alias("f_last_noun"),
        F.element_at(tags, 1).rlike(_VERB).cast("double").alias("f_first_verb"),
        F.expr("cast(array_contains(split(pos_key, ' '), 'IN') as double)")
        .alias("f_has_in"),
        # stopword flags (extractStopwords :184-194); first-token also
        # counts digits, verbatim
        (first_tok.isin(*_STOPS) | first_tok.rlike("^[0-9]+$"))
        .cast("double").alias("f_stop_first"),
        F.element_at(toks, -1).isin(*_STOPS).cast("double")
        .alias("f_stop_last"),
        *[(F.size(F.filter(grouped, _eq_lit(grp)))
           / F.size(tags)).alias(f"f_pos_{grp.lower()}")
          for grp in POS_GROUPS],
    )
    return base.join(corpus_feats, "ngram_key", "left").fillna(
        {c: 0.0 for c in CORPUS_FEATURES})


FEATURES = (
    ["f_logfreq", "f_len", "f_noun_ratio", "f_verb_ratio",
     "f_propn_ratio", "f_stop_ratio", "f_first_noun", "f_last_noun",
     "f_first_verb", "f_has_in", "f_stop_first", "f_stop_last"]
    + [f"f_pos_{g.lower()}" for g in POS_GROUPS]
    + CORPUS_FEATURES
)


def fit_quality_forest(feats: DataFrame, ent_pool: set[str],
                       rel_pool: set[str], num_trees: int = 100,
                       seed: int = 42):
    """M4 (random_forest.h:108-290 contract): seeded pyspark.ml
    RandomForests on DPDN-labeled, featurized patterns — TWO forests like
    the reference (predict_quality.h trains the multi-word classifier on
    the 25-feature family and a separate unigram classifier on the
    20-feature family), falling back to one shared forest when a split
    has no rows. 100 trees (not the reference's 1000 — its forest is
    extremely-randomized with 4 feature × 4 split candidates, so trees
    are individually much weaker). ``feats`` is the :func:`featurize`
    table, the same one :func:`assign_quality_ml` scores."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    # label_patterns only adds the label column, so featurize-then-label
    # ≡ label-then-featurize — and the former lets both consumers share
    # one featurized table
    labeled = label_patterns(feats, ent_pool, rel_pool).cache()
    asm = VectorAssembler(inputCols=FEATURES, outputCol="features")

    def train_on(df):
        rf = RandomForestClassifier(
            labelCol="label", featuresCol="features", numTrees=num_trees,
            maxDepth=8, seed=seed)
        return rf.fit(asm.transform(df))

    multi = labeled.filter(F.col("n") > 1)
    uni = labeled.filter(F.col("n") == 1)
    try:
        if multi.isEmpty() or uni.isEmpty():
            shared = train_on(labeled)
            return {"multi": shared, "uni": shared}, asm
        return {"multi": train_on(multi), "uni": train_on(uni)}, asm
    finally:
        labeled.unpersist()


def assign_quality_ml(feats: DataFrame, rf_model, assembler) -> DataFrame:
    """M5 (predict_quality.h:12-82): indicator = argmax class, quality =
    probability of that class, under the rule table's unigram POS
    overrides (model.unigram_overrides, predict_quality.h:143-155).
    Multi-word rows score through the multi-word forest, unigram rows
    through the unigram forest (the reference's two-classifier split);
    ``rf_model`` is the ``{"multi": ..., "uni": ...}`` dict that
    :func:`fit_quality_forest` returns. Scoring is JVM-side (pyspark.ml
    broadcast models), no python in the loop. ``feats`` is the
    :func:`featurize` table the forests were fit on; the output is its
    pattern columns + (indicator, quality)."""
    from pyspark.ml.functions import vector_to_array

    feats = assembler.transform(feats)
    scored = (
        rf_model["multi"].transform(feats.filter(F.col("n") > 1))
        .unionByName(rf_model["uni"].transform(feats.filter(F.col("n") == 1)))
    )
    probs = vector_to_array("probability")
    pred = F.col("prediction").cast("int")
    ind = (F.when(pred == LABEL_EP, "EP")
           .when(pred == LABEL_RP, "RP").otherwise("BP"))
    quality = F.element_at(probs, pred + 1)
    iq = model_mod.unigram_overrides().otherwise(
        model_mod.iq_struct(ind, quality))
    return (model_mod.with_quality(scored, iq)
            .drop("features", "rawPrediction", "probability", "prediction",
                  "label", *FEATURES))
