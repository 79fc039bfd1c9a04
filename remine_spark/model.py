"""Phrase-quality model + dependency-constrained segmentation on Spark.

Covers SURVEY §2 M3/M5 (label/quality contract), M6 (trie), M7/M8 (Viterbi),
A6 (subtree census), A7/A8 + M9 (EM constraint re-estimation and frequency
rectification passes; the resumable outer loop is pipeline.run_pipeline).

Round-1 quality contract
------------------------
The reference scores patterns with a 1000-tree random forest
(random_forest.h:108-290) whose training is seeded from time(0)
(label_generation.h:88) — not even self-reproducible. What downstream
consumes is only the per-pattern contract ``(indicator ∈ {EP,RP,BP},
quality ∈ [0,1])`` (predict_quality.h:61-70) plus the deterministic POS
overrides (predict_quality.h:143-155). This module implements that contract
as a deterministic POS-shape rule table (the overrides are verbatim; the RF
is replaced by distant-supervision-style shape rules). The EM/Viterbi
machinery downstream is exact-semantics.

Scale notes
-----------
- The broadcast model is capped at SEGMENT_QUALITY_TOP_K patterns by
  (quality desc, freq desc) — W2/W3, remine.cpp:84-98, parameters.h:78 —
  so the trie broadcast stays bounded at web scale.
- The subtree-signature table is bounded by the combinatorics of unordered
  forests on ≤ MAX_LEN nodes (a few hundred shapes), so collecting it to the
  driver is safe at any corpus size.
- The census and each EM pass are one Spark job: a mapInPandas whose
  tasks each yield their compacted counts (at most distinct keys rows:
  signatures + chosen pattern ids), summed on the driver — no shuffle, no
  joins, and the driver loop touches tasks × keys rows, not sentences.
"""

from __future__ import annotations

import math
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from . import algo

EPS = algo.EPS
SEGMENT_QUALITY_TOP_K = 50000  # parameters.h:78


# --------------------------------------------------------------------------
# M3/M5: indicator + quality assignment (deterministic POS-shape rules)
# --------------------------------------------------------------------------

_N = "(NN|NNS|NNP|NNPS)"
_V = "(VB|VBD|VBG|VBN|VBP|VBZ)"


def iq_struct(ind, q) -> Column:
    """An (indicator, quality) struct from two literals or columns."""
    return F.struct(F.lit(ind).alias("indicator"), F.lit(q).alias("quality"))


def unigram_overrides() -> Column:
    """The unigram POS overrides, verbatim from predict_quality.h:143-155,
    as an open CASE over (pos_key, n) yielding an (indicator, quality)
    struct: VB*→RP q=1, IN/TO/RP→RP q=1, PRP/PRP$→EP q=1. Both quality
    sources (the rule table below, the forest in
    classifier.assign_quality_ml) chain their own cases onto it."""
    pk = F.col("pos_key")
    uni = ~(F.col("n") > 1)
    return (F.when(uni & pk.rlike(f"^{_V}$"), iq_struct("RP", 1.0))
            .when(uni & pk.isin("IN", "TO", "RP"), iq_struct("RP", 1.0))
            .when(uni & pk.isin("PRP", "PRP$"), iq_struct("EP", 1.0)))


def with_quality(patterns: DataFrame, iq: Column) -> DataFrame:
    """``patterns`` + (indicator, quality) taken from the struct ``iq``."""
    return patterns.withColumn("_iq", iq).select(
        "*", F.col("_iq.indicator").alias("indicator"),
        F.col("_iq.quality").alias("quality"),
    ).drop("_iq")


def assign_quality(patterns: DataFrame) -> DataFrame:
    """patterns(+pos_key) → + (indicator, quality).

    The unigram overrides come first (:func:`unigram_overrides`); multi-word
    shapes replace the RF with distant-supervision-style rules (see module
    docstring).
    """
    pk = F.col("pos_key")
    multi = F.col("n") > 1

    rules = (
        unigram_overrides()
        .when(~multi & pk.isin("NNP", "NNPS"), iq_struct("EP", 0.6))
        .when(~multi & pk.isin("NN", "NNS"), iq_struct("EP", 0.55))
        # ---- multi-word shape rules (replace the RF) ----
        .when(multi & pk.rlike("^NNPS?( NNPS?)+$"), iq_struct("EP", 0.95))
        .when(multi & pk.rlike("^(NN|NNS)( (NN|NNS))+$"), iq_struct("EP", 0.8))
        # N-of-N is an entity shape ("bank of america"); other N-IN-N
        # ("globex in springfield") is junk — a mid-band quality (0.5..0.65)
        # would win Viterbi yet fail the emission gate and swallow its
        # tokens, so junk goes straight to ~0 and parts win.
        .when(multi & pk.rlike(f"^{_N}( {_N})* IN {_N}( {_N})*$")
              & F.array_contains("ngram", "of"), iq_struct("EP", 0.75))
        .when(multi & pk.rlike(f"^{_N}( {_N})* IN {_N}( {_N})*$"),
              iq_struct("BP", 0.001))
        # relation regex V+W*P | V+P | V (utils.py:52-57)
        .when(multi & pk.rlike(f"^{_V}( {_V})*( (IN|TO|RP))?$"),
              iq_struct("RP", 0.9))
        # verb-crossing junk → effectively never a phrase
        .when(multi & pk.rlike("VB"), iq_struct("BP", 0.001))
        .otherwise(iq_struct("BP", 0.3))
    )
    return with_quality(patterns, rules)


# --------------------------------------------------------------------------
# Broadcastable segmentation model
# --------------------------------------------------------------------------

class SegModel:
    """Driver-side model: pattern list, trie, log-probs, deps table."""

    def __init__(self, patterns: list[tuple], tree_total: dict[str, int],
                 deps_prob: dict[str, float] | None = None):
        # patterns: [(tokens tuple, freq, quality, indicator)]
        self.patterns = patterns
        self.tree_total = tree_total
        n_sig = max(len(tree_total), 1)
        # initializeDeps (segmentation.h:323-325): uniform start
        self.deps_prob = deps_prob if deps_prob is not None else {
            s: 1.0 / n_sig for s in tree_total
        }
        self._rebuild()

    def _rebuild(self):
        self.trie = algo.build_trie(self.patterns)
        # per-length normalized frequency → log prob (+ quality unless
        # TUPLE_MODE): segmentation.h:440-465, 486-498
        by_len: dict[int, float] = {}
        for (toks, freq, _q, _i) in self.patterns:
            by_len[len(toks)] = by_len.get(len(toks), 0.0) + freq
        self.prob = []        # log(freq_norm) + log(quality)  (MODE 0)
        self.prob_tuple = []  # log(freq_norm) only (TUPLE_MODE, segmentation.h:495)
        for (toks, freq, q, _i) in self.patterns:
            p = freq / by_len[len(toks)] if by_len[len(toks)] > 0 else 0.0
            self.prob_tuple.append(math.log(p + EPS))
            self.prob.append(math.log(p + EPS) + math.log(q + EPS))

    def log_deps(self) -> dict[str, float]:
        """logDeps (segmentation.h:429-433) — applied per pass, raw probs
        stay stored (adjustConstraints calls logDeps each entry)."""
        return {s: math.log(p + EPS) for s, p in self.deps_prob.items()}

    def payload(self) -> dict:
        return {
            "patterns": self.patterns,
            "trie": self.trie,
            "prob": self.prob,
            "prob_tuple": self.prob_tuple,
            "deps_logprob": self.log_deps(),
            "default_logprob": math.log(EPS),
        }


def model_from_patterns(
    patterns_df: DataFrame, tree_total: dict[str, int],
    top_k: int = SEGMENT_QUALITY_TOP_K,
) -> SegModel:
    """Collect the top-k quality patterns (W2/W3 broadcast cap) → SegModel."""
    rows = (
        patterns_df.select("ngram", "ngram_key", "freq", "quality", "indicator")
        .orderBy(F.desc("quality"), F.desc("freq"), F.asc("ngram_key"))
        .limit(top_k)
        .collect()
    )
    pats = [(tuple(r.ngram), int(r.freq), float(r.quality), r.indicator)
            for r in rows]
    return SegModel(pats, tree_total)


# --------------------------------------------------------------------------
# A6: subtree-shape census (initializeDeps, segmentation.h:295-332)
# --------------------------------------------------------------------------

def subtree_census(sentences: DataFrame, max_len: int = 6) -> dict[str, int]:
    """signature → number of ≤max_len-node subtrees of that shape, in ONE
    Spark job: each task yields its own compacted counts (a few hundred
    rows) and the driver sums them — integer counts, exact in any order."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sigs: Counter = Counter()
        for pdf in batches:
            for heads in pdf["dep_head"]:
                deps = [(i, int(h)) for i, h in enumerate(heads)]
                sigs.update(algo.census_signatures(deps, max_len))
        if sigs:
            yield pd.DataFrame(
                {"signature": list(sigs), "cnt": list(sigs.values())}
            )

    total: Counter = Counter()
    for r in (sentences.select("dep_head")
              .mapInPandas(gen, schema="signature string, cnt long")
              .collect()):
        total[r.signature] += r.cnt
    return dict(total)


# --------------------------------------------------------------------------
# M9 + A7/A8: EM passes (driven by pipeline.run_pipeline)
# --------------------------------------------------------------------------

def _em_pass(sentences: DataFrame, bc_model, deps_logprob: dict) -> DataFrame:
    """One EM statistics pass, task-compacted: Viterbi each sentence but
    emit only the task's aggregated rows (key, cnt, energy) — signature
    keys prefixed 's:', pattern ids prefixed 'p:', plus one 'energy'
    partial per task. The per-sentence segments/sigs arrays never cross
    the Arrow boundary, and the driver receives at most tasks × distinct
    keys rows. Both EM consumers (adjust_constraints: signatures + energy;
    rectify_frequency: chosen-pattern counts) read from this one kernel.

    ``bc_model`` broadcasts ``SegModel.payload()`` once per outer
    iteration (the trie/patterns/probs change only at rectify_frequency);
    the per-pass ``deps_logprob`` dict ships in the task closure (a few
    hundred floats)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bc_model.value
        trie, prob = m["trie"], m["prob"]
        dlp, dflt = deps_logprob, m["default_logprob"]
        viterbi, sig = algo.viterbi_deps, algo.tree_signature
        counts: Counter = Counter()
        energy_sum = 0.0
        for pdf in batches:
            for toks, heads in zip(pdf["tokens"], pdf["dep_head"]):
                toks = list(toks)
                deps = [(i, int(h)) for i, h in enumerate(heads)]
                f, pre, pids = viterbi(toks, deps, trie, prob, dlp, dflt)
                # count-only backtrace: EM needs just the chosen pattern
                # ids and multi-word span signatures, so skip
                # backtrace_segments' per-segment tuple build and quality
                # gating (profiled at ~30% of this pass; counts are
                # identical — same pre/pids walk, same memoized
                # signatures)
                i = len(toks)
                while i > 0:
                    pid = pids[i]
                    j = pre[i]
                    if pid >= 0:
                        counts[f"p:{pid}"] += 1
                        if i - j > 1:
                            counts["s:" + sig(deps, j, i)] += 1
                    i = j
                energy = f[len(toks)]
                energy_sum += float(energy) if energy > -1e80 else 0.0
        yield pd.DataFrame({
            "key": pd.Series(list(counts) + ["energy"], dtype=object),
            "cnt": pd.Series(list(counts.values()) + [0], dtype="int64"),
            "energy": pd.Series([0.0] * len(counts) + [energy_sum],
                                dtype="float64"),
        })

    cols = sentences.select("tokens", "dep_head")
    return cols.mapInPandas(run, schema="key string, cnt long, energy double")


def _em_stats(sentences: DataFrame, model: SegModel,
              bc_model) -> tuple[dict, dict, float]:
    """(signature counts, chosen-pattern counts, total energy) in ONE Spark
    job: the task rows of ``_em_pass`` are collected and summed on the
    driver. The counts are integers, exact in any order. The energy only
    feeds adjust_constraints' convergence test; its per-task partials
    depend on how the input is partitioned, and ``math.fsum`` (correctly
    rounded, so independent of the order the partials arrive in) sums
    them."""
    sig_cnt: Counter = Counter()
    pat_cnt: Counter = Counter()
    energies = []
    for r in _em_pass(sentences, bc_model, model.log_deps()).collect():
        if r.key == "energy":
            energies.append(r.energy)
        elif r.key.startswith("s:"):
            sig_cnt[r.key[2:]] += r.cnt
        else:
            pat_cnt[int(r.key[2:])] += r.cnt
    return dict(sig_cnt), dict(pat_cnt), math.fsum(energies)


def adjust_constraints(
    sentences: DataFrame, model: SegModel, bc_model,
    inner_iters: int = 10, rel_eps: float = EPS,
) -> list[float]:
    """Inner EM loop (main.cpp:187-198 + adjustConstraints
    segmentation.h:884-967): segment → count chosen multi-word span
    signatures → deps_prob[sig] = cnt / total, until relative energy change
    < rel_eps. Returns the energy trajectory. One task-compacted corpus
    pass per iteration (signature counts + energy ride the same job) over
    the ``bc_model`` broadcast of ``model.payload()``."""
    energies: list[float] = []
    last = 1e100
    for _ in range(inner_iters):
        cnts, _pat, energy = _em_stats(sentences, model, bc_model)
        model.deps_prob = {
            s: cnts.get(s, 0) / t
            for s, t in model.tree_total.items() if t > 0
        }
        energies.append(energy)
        if abs(energy - last) / abs(last) < rel_eps:
            break
        last = energy
    return energies


def rectify_frequency(
    sentences: DataFrame, model: SegModel, bc_model,
) -> SegModel:
    """A8 (rectifyFrequencyDeps, segmentation.h:816-882): pattern freq :=
    number of times Viterbi chose it; then rebuild trie/probs (patterns with
    rectified freq 0 drop out of the trie for multi-word, segmentation.h:46).
    """
    _sig, cnt, _energy = _em_stats(sentences, model, bc_model)
    new_patterns = [
        (toks, cnt.get(pid, 0), q, ind)
        for pid, (toks, _f, q, ind) in enumerate(model.patterns)
    ]
    model.patterns = new_patterns
    model._rebuild()
    return model
