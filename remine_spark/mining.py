"""Frequent contiguous n-gram (pattern) mining — pure DataFrame/Catalyst.

Reference: frequent_pattern_mining.h:260-435 mines length-k patterns
iteratively (Apriori) with thread-local hash maps. At Spark scale the
equivalent with identical post-MIN_SUP semantics is a single explode of all
within-sentence n-grams (≤ max_len) into one shuffle-parallel hash
aggregation — partial (map-side) + final aggregation replaces the mutex-striped
counter merging (frequent_pattern_mining.h:193-219, 354-390). Sentence
boundaries are respected by construction (n-grams are generated inside the
per-sentence array row, mirroring isEndOfSentence pruning at
frequent_pattern_mining.h:364,411).

Punctuation-crossing multi-grams are never generated: GetPuncCost
(segmentation.h:355-358) makes them -INF at segmentation time, so counting
them would be wasted shuffle volume; candidates come from the sentence's
punctuation-free segments only.

The patterns stage is one lazy plan: the mined survivors and the M14
chunk-boost table meet in a single full outer join, so the corpus
explode-agg appears once in the plan, with no cache, and runs inside the
action that consumes it (the pipeline's patterns checkpoint write).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .nlp import LEXICON, PUNC

MIN_SUP = 10      # phrase_extraction.sh:3 (compiled default 30, parameters.h:58)
MAX_LEN = 6       # frequent_pattern_mining.h:260 mine cap


def _pos_key_expr(ngram_key_col: str):
    """POS key of a space-joined n-gram as a pure Spark expression — the
    tagger (nlp.pos_tag) is a context-free per-token dictionary + suffix
    map, so it transliterates 1:1 into a map lookup + CASE chain (same
    rule order: punctuation, lexicon, digit, -ed, -ing, -s, NN default).
    JVM-side: no python worker in the patterns checkpoint write path."""
    items = []
    for p in sorted(PUNC):
        items += [F.lit(p), F.lit(".")]
    for w, t in sorted(LEXICON.items()):
        items += [F.lit(w), F.lit(t)]
    lex = F.create_map(*items)

    def tag(t):
        return F.coalesce(
            F.element_at(lex, t),
            F.when(t.rlike("^[0-9]+$"), "CD")
            .when((F.length(t) > 4) & t.endswith("ed"), "VBD")
            .when((F.length(t) > 4) & t.endswith("ing"), "VBG")
            .when(t.endswith("s") & (F.length(t) > 3), "NNS")
            .otherwise("NN"))

    return F.array_join(
        F.transform(F.split(F.col(ngram_key_col), " "), tag), " ")


def ngram_candidates(sentences: DataFrame, max_len: int = MAX_LEN) -> DataFrame:
    """Explode every within-sentence n-gram, 1 ≤ n ≤ max_len.

    Output: (doc_id, sent_id, start, n, ngram ARRAY<STRING>, pos_key STRING).
    """
    gen = F.expr(
        f"""
        flatten(transform(sequence(0, size(tokens)-1), i ->
          transform(sequence(1, least({int(max_len)}, size(tokens)-i)), n ->
            struct(i AS start, n AS n,
                   slice(tokens, i+1, n) AS ngram,
                   array_join(slice(pos, i+1, n), ' ') AS pos_key))))
        """
    )
    punc_lit = F.array(*[F.lit(p) for p in sorted(PUNC)])
    return (
        sentences
        .select("doc_id", "sent_id", F.explode(gen).alias("g"))
        .select("doc_id", "sent_id", "g.start", "g.n", "g.ngram", "g.pos_key")
        .filter(F.size(F.array_intersect(F.col("ngram"), punc_lit)) == 0)
    )


def mine_patterns(
    sentences: DataFrame, min_sup: int = MIN_SUP, max_len: int = MAX_LEN,
    pos_prune: tuple[set, set] | None = None,
) -> DataFrame:
    """patterns(ngram, ngram_key, n, freq, pos_key) with freq ≥ min_sup.

    One shuffle (hash agg). The candidate stream carries ONE string per
    n-gram — the space-joined ngram_key. Punctuation handling is moved
    BEFORE generation: each sentence's token array splits into punc-free
    segments (every PUNC token tags '.', so segment boundaries are the
    positions where pos = '.'), and n-grams are generated inside segments
    only. The r2 formulation generated (ngram_key, pos_key) struct pairs
    for ALL n-grams and filtered punc-crossers afterwards — carrying a
    second string through the 6×-corpus explode purely to drive the
    filter; this stage is memory-bandwidth-bound at high core counts
    (BENCH r2: 1.38× for 8→32 cores), so halving the exploded bytes is
    the direct scaling lever. The array form (ngram) and pos_key are
    rebuilt on the min_sup survivors only (the tagger is context-free,
    so survivor-side tagging is occurrence-identical).

    The opt-in ``pos_prune`` is a filter on the survivors' pos_key: its
    predicate depends only on the n-gram's tags, so every occurrence of a
    key is kept or dropped together and a kept key's freq is unchanged.
    """
    bnds = (
        "concat(array(0), "
        "filter(sequence(1, size(pos)), i -> element_at(pos, i) = '.'), "
        "array(size(tokens) + 1))"
    )
    segs = (
        f"filter(transform(sequence(1, size(bnds) - 1), k -> "
        f"slice(tokens, element_at(bnds, k) + 1, "
        f"element_at(bnds, k + 1) - element_at(bnds, k) - 1)), "
        f"s -> size(s) > 0)"
    )
    # Candidate generation is codegen-friendly on purpose: posexplode
    # the segment to token rows, then emit the ≤max_len n-grams
    # starting at each position as gated concat_ws(slice(...)) — all
    # whole-stage-codegen expressions. The previous formulation
    # (nested transform/flatten/array_join higher-order functions)
    # evaluated INTERPRETED per sentence and allocated Catalyst
    # objects per candidate; measured at 1M docs it was the pipeline's
    # worst scaler (explode alone 21.7 s @8 cores, 1.07× speedup
    # 8→32 — allocation-bound, not CPU-bound). This shape: 12.8 s @8
    # and the full mine (explode + agg) 6.8 s @32 on the same input.
    starts = [F.when(F.col("i") + k <= F.size("seg"),
                     F.concat_ws(" ", F.slice("seg", F.col("i") + 1, k)))
              for k in range(1, int(max_len) + 1)]
    survivors = (
        sentences
        .filter(F.expr("size(tokens) > 0"))
        .select(F.expr(bnds).alias("bnds"), "tokens")
        .select(F.explode(F.expr(segs)).alias("seg"))
        .select("seg", F.posexplode("seg").alias("i", "tok"))
        .select(F.explode(F.array(*starts)).alias("ngram_key"))
        .filter(F.col("ngram_key").isNotNull())
        .groupBy("ngram_key")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_sup)
    )
    # pos_key is re-derived on the bounded survivor set: the tagger is
    # context-free (nlp.pos_tag is a per-token map), so tagging the ngram
    # directly is identical to any occurrence slice — and not carrying a
    # second string through the 6x-corpus aggregation (nor a min() string
    # buffer per key) nearly halves the stage's shuffle and hashmap cost.
    patterns = survivors.select(
        F.split("ngram_key", " ").alias("ngram"),
        "freq",
        _pos_key_expr("ngram_key").alias("pos_key"),
        F.size(F.split("ngram_key", " ")).alias("n"),
        "ngram_key",
    )
    if pos_prune is None:
        return patterns
    # P2 (pruneByPOSTag, frequent_pattern_mining.h:223-234; opt-in —
    # ENABLE_POS_PRUNE is off by default in the reference). The reference
    # prunes at every Apriori step: a unigram occurrence is dropped when
    # its tag is forbidden as BOTH initial and expansion (:226), and an
    # extension is dropped when the NEW token's tag is a forbidden
    # expansion (:229, applied at frequent_pattern_mining.h:350-375 for
    # every length). Net pattern-set semantics with a context-free tagger:
    # a pattern survives iff its FIRST tag is not forbidden-as-both
    # (patterns can never start at a pruned unigram occurrence) and NO tag
    # after position 0 is a forbidden expansion.
    no_initial, no_expansion = pos_prune
    both = sorted(set(no_initial) & set(no_expansion))
    tags = F.split("pos_key", " ")
    first_hit = F.element_at(tags, 1).isin(*both)  # isin() of none: false
    tail_hit = F.exists(F.slice(tags, F.lit(2), F.size(tags)),
                        lambda t: t.isin(*sorted(no_expansion)))
    return patterns.filter(~(first_hit | tail_hit))


def boost_patterns(sentences: DataFrame, max_len: int = MAX_LEN) -> DataFrame:
    """M14 candidates: NP/DATE chunk spans (preprocessing.py:32-71 grammar,
    re-expressed in nlp.boost_chunk_spans). Output: (ngram_key, boost_freq,
    pos_key) — the observed chunk frequency of each space-joined surface;
    a chunk the mining missed is floored to MIN_SUP by
    :func:`mine_patterns_boosted`.

    Reads the stage-1 ``chunk_a``/``chunk_b`` span columns, which
    corpus.sentences_from_pages computes inside the SAME python NLP pass
    that tags the corpus; a sentences table must carry them. So this is a
    pure JVM explode + slice + agg — no second python corpus scan.

    Surface filter mirrors preprocessing.py:64 ('www'/'.com' excluded);
    span length capped at the loadExternalPatterns LENGTH_THRESHOLD
    (frequent_pattern_mining.h:244,251)."""
    spans = (
        sentences
        .select("tokens", "pos",
                F.explode(F.arrays_zip("chunk_a", "chunk_b")).alias("s"))
        .select("tokens", "pos", F.col("s.chunk_a").alias("a"),
                F.col("s.chunk_b").alias("b"))
        .filter(F.col("b") - F.col("a") <= max_len)
        .select(
            F.concat_ws(" ", F.expr("slice(tokens, a + 1, b - a)"))
            .alias("ngram_key"),
            F.concat_ws(" ", F.expr("slice(pos, a + 1, b - a)"))
            .alias("pos_key"))
        .filter(~F.col("ngram_key").contains("www")
                & ~F.col("ngram_key").contains(".com"))
    )
    return spans.groupBy("ngram_key").agg(
        F.count(F.lit(1)).alias("boost_freq"),
        F.min("pos_key").alias("pos_key"))


def mine_patterns_boosted(
    sentences: DataFrame, min_sup: int = MIN_SUP, max_len: int = MAX_LEN,
) -> DataFrame:
    """M14 (frequent_pattern_mining.h:236-258 loadExternalPatterns): merge
    chunk-boost patterns into the mined table with one full outer join on
    ``ngram_key``, which reads each side once (so nothing is cached). Both
    sides leave their aggregation hash-partitioned by that key, so the
    join adds no shuffle of its own. A boost
    pattern already mined keeps its true frequency; a new one (i.e. below
    min_sup) enters with freq = min_sup exactly as the reference floors
    currentFreq to MIN_SUP — this is what lets legitimate tail NP
    entities become mentions.

    ``is_boost`` marks the externally-injected rows (no mined row for the
    key): the reference zero-fills every occurrence-derived feature for
    external patterns (id >= id2ends.size() guards in extractStatistical
    / extractPunctuation, feature_extraction.h:210,255,394-400), so the
    classifier needs to know which rows those are."""
    mined = mine_patterns(sentences, min_sup, max_len)
    boost = boost_patterns(sentences, max_len).select(
        "ngram_key", F.col("pos_key").alias("boost_pos_key"))
    ngram = F.coalesce("ngram", F.split("ngram_key", " "))
    return mined.join(boost, "ngram_key", "full_outer").select(
        ngram.alias("ngram"),
        F.coalesce("freq", F.lit(min_sup).cast("long")).alias("freq"),
        F.coalesce("pos_key", "boost_pos_key").alias("pos_key"),
        F.coalesce("n", F.size(ngram)).alias("n"),
        "ngram_key",
        F.col("freq").isNull().alias("is_boost"),
    )


def idf(sentences: DataFrame) -> DataFrame:
    """A3 (documents.h:300-309): idf = log(total_docs / doc_freq + EPS).

    The doc-count denominator rides the same job as a broadcast 1-row
    cross join (no separate count action). countDistinct shuffles once; at
    10^12-doc scale swap for approx_count_distinct — semantics of
    downstream features tolerate it.
    """
    n1 = (sentences.agg(F.count_distinct("doc_id").cast("double")
                        .alias("n_docs")))
    return (
        sentences.select("doc_id", F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n1))
        .withColumn("idf", F.log(F.col("n_docs") / F.col("df") + F.lit(1e-8)))
        .drop("n_docs")
    )


def occurrences(sentences: DataFrame, patterns: DataFrame,
                max_len: int = MAX_LEN) -> DataFrame:
    """id2ends equivalent (frequent_pattern_mining.h:149-152) as a real
    table: every (doc_id, sent_id, start, end_pos) of a surviving pattern.
    Semi-join against the mined patterns prunes the candidate stream."""
    cands = ngram_candidates(sentences, max_len)
    return (
        cands.join(patterns.select("ngram"), "ngram", "left_semi")
        .withColumn("end_pos", F.col("start") + F.col("n") - 1)
    )
