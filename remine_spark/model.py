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
- Each EM iteration is one full segmentation pass (mapInPandas) + one hash
  agg — no joins, no driver-side per-row loops.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import algo

EPS = algo.EPS
SEGMENT_QUALITY_TOP_K = 50000  # parameters.h:78


# --------------------------------------------------------------------------
# M3/M5: indicator + quality assignment (deterministic POS-shape rules)
# --------------------------------------------------------------------------

_N = "(NN|NNS|NNP|NNPS)"
_V = "(VB|VBD|VBG|VBN|VBP|VBZ)"


def assign_quality(patterns: DataFrame) -> DataFrame:
    """patterns(+pos_key) → + (indicator, quality).

    Unigram POS overrides are verbatim from predict_quality.h:143-155
    (PRP→EP q=1, VB*→RP q=1, IN/TO/RP→RP q=1); multi-word shapes replace the
    RF with distant-supervision-style rules (see module docstring).
    """
    pk = F.col("pos_key")
    multi = F.col("n") > 1

    def iq(ind: str, q: float):
        return F.struct(F.lit(ind).alias("indicator"),
                        F.lit(q).alias("quality"))

    rules = (
        # ---- unigram overrides (predict_quality.h:143-155) ----
        F.when(~multi & pk.rlike(f"^{_V}$"), iq("RP", 1.0))
        .when(~multi & pk.isin("IN", "TO", "RP"), iq("RP", 1.0))
        .when(~multi & pk.isin("PRP", "PRP$"), iq("EP", 1.0))
        .when(~multi & pk.isin("NNP", "NNPS"), iq("EP", 0.6))
        .when(~multi & pk.isin("NN", "NNS"), iq("EP", 0.55))
        # ---- multi-word shape rules (replace the RF) ----
        .when(multi & pk.rlike("^NNPS?( NNPS?)+$"), iq("EP", 0.95))
        .when(multi & pk.rlike("^(NN|NNS)( (NN|NNS))+$"), iq("EP", 0.8))
        # N-of-N is an entity shape ("bank of america"); other N-IN-N
        # ("globex in springfield") is junk — a mid-band quality (0.5..0.65)
        # would win Viterbi yet fail the emission gate and swallow its
        # tokens, so junk goes straight to ~0 and parts win.
        .when(multi & pk.rlike(f"^{_N}( {_N})* IN {_N}( {_N})*$")
              & F.array_contains("ngram", "of"), iq("EP", 0.75))
        .when(multi & pk.rlike(f"^{_N}( {_N})* IN {_N}( {_N})*$"), iq("BP", 0.001))
        # relation regex V+W*P | V+P | V (utils.py:52-57)
        .when(multi & pk.rlike(f"^{_V}( {_V})*( (IN|TO|RP))?$"), iq("RP", 0.9))
        # verb-crossing junk → effectively never a phrase
        .when(multi & pk.rlike("VB"), iq("BP", 0.001))
        .otherwise(iq("BP", 0.3))
    )
    return patterns.withColumn("_iq", rules).select(
        "*", F.col("_iq.indicator").alias("indicator"),
        F.col("_iq.quality").alias("quality"),
    ).drop("_iq")


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

    def payload_static(self) -> dict:
        """The per-outer-iteration IMMUTABLE part of the model: the EM
        inner loop (adjustConstraints) only re-estimates ``deps_prob``;
        patterns/trie/probs change solely at rectify_frequency's
        ``_rebuild``. Broadcasting this once per outer iteration instead
        of per inner pass cuts ~6/7 of the broadcast volume — and the
        per-pass fetch+unpickle cost in every python worker scaled with
        worker count, so the repeat broadcast was an anti-scaler. The
        tiny ``deps_logprob`` dict (bounded by the ≤6-node unordered
        forest combinatorics — a few hundred entries) rides the task
        closure per pass instead."""
        return {
            "patterns": self.patterns,
            "trie": self.trie,
            "prob": self.prob,
            "prob_tuple": self.prob_tuple,
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
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs: dict[str, int] = {}
            for heads in pdf["dep_head"]:
                deps = [(i, int(h)) for i, h in enumerate(heads)]
                for s in algo.census_signatures(deps, max_len):
                    sigs[s] = sigs.get(s, 0) + 1
            if sigs:
                yield pd.DataFrame(
                    {"signature": list(sigs), "cnt": list(sigs.values())}
                )

    counted = (
        sentences.select("dep_head")
        .mapInPandas(gen, schema="signature string, cnt long")
        .groupBy("signature")
        .agg(F.sum("cnt").alias("total"))
    )
    return {r.signature: int(r.total) for r in counted.collect()}


# --------------------------------------------------------------------------
# M7/M8: segmentation pass as a mapInPandas over sentence batches
# --------------------------------------------------------------------------

SEGMENTS_SCHEMA = (
    "url string, doc_id long, sent_id int, "
    "segments array<struct<start:int,end:int,pattern_id:int,ok:boolean>>, "
    "sigs array<string>, energy double"
)


def segment_sentences(sentences: DataFrame, bc_model, rp_only: bool = False) -> DataFrame:
    """One Viterbi pass over the corpus. ``bc_model`` is a broadcast of
    SegModel.payload(). Emits chosen segments, the subtree signatures of
    chosen multi-word segments (EM statistics, adjustConstraints
    segmentation.h:917-926), and the sentence energy."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bc_model.value
        trie, prob = m["trie"], m["prob"]
        patterns = m["patterns"]
        dlp, dflt = m["deps_logprob"], m["default_logprob"]
        for pdf in batches:
            out = {k: [] for k in
                   ("url", "doc_id", "sent_id", "segments", "sigs", "energy")}
            for url, did, sid, toks, heads in zip(
                pdf["url"], pdf["doc_id"], pdf["sent_id"],
                pdf["tokens"], pdf["dep_head"],
            ):
                toks = list(toks)
                deps = [(i, int(h)) for i, h in enumerate(heads)]
                segs, energy = algo.segment_sentence(
                    toks, deps, trie, patterns, prob, dlp, dflt,
                    rp_only=rp_only,
                )
                sigs = [
                    algo.tree_signature(deps, s, e)
                    for (s, e, pid, _ok) in segs
                    if pid >= 0 and e - s > 1
                ]
                out["url"].append(url)
                out["doc_id"].append(did)
                out["sent_id"].append(sid)
                out["segments"].append(
                    [(int(s), int(e), int(pid), bool(ok))
                     for (s, e, pid, ok) in segs])
                out["sigs"].append(sigs)
                out["energy"].append(float(energy) if energy > -1e80 else 0.0)
            if out["url"]:
                yield pd.DataFrame(
                    {k: pd.Series(v, dtype=object) for k, v in out.items()}
                )

    cols = sentences.select("url", "doc_id", "sent_id", "tokens", "dep_head")
    return cols.mapInPandas(run, schema=SEGMENTS_SCHEMA)


# --------------------------------------------------------------------------
# M9 + A7/A8: EM passes (driven by pipeline.run_pipeline)
# --------------------------------------------------------------------------

def _em_pass(sentences: DataFrame, bc_static, deps_logprob: dict) -> DataFrame:
    """One EM statistics pass, batch-compacted: Viterbi each sentence but
    emit only per-batch aggregated rows (key, cnt, energy) — signature
    keys prefixed 's:', pattern ids prefixed 'p:', plus one 'energy'
    partial per batch. The per-sentence segments/sigs arrays never cross
    the Arrow boundary (they were ~10× the useful payload) and the
    downstream groupBy touches hundreds of rows per task instead of one
    per sentence. Both EM consumers (adjust_constraints: signatures +
    energy; rectify_frequency: chosen-pattern counts) read from this one
    kernel.

    ``bc_static`` broadcasts only the immutable trie/patterns/probs
    (SegModel.payload_static, shared across every pass of an outer
    iteration); the per-pass ``deps_logprob`` dict ships in the task
    closure (a few hundred floats)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        m = bc_static.value
        trie, prob = m["trie"], m["prob"]
        dlp, dflt = deps_logprob, m["default_logprob"]
        viterbi, sig = algo.viterbi_deps, algo.tree_signature
        for pdf in batches:
            counts: Counter = Counter()
            energy_sum = 0.0
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
            keys = list(counts.keys()) + ["energy"]
            cnts = [int(counts[k]) for k in counts] + [0]
            yield pd.DataFrame({
                "key": pd.Series(keys, dtype=object),
                "cnt": pd.Series(cnts, dtype="int64"),
                "energy": pd.Series([0.0] * (len(keys) - 1) + [energy_sum],
                                    dtype="float64"),
            })

    cols = sentences.select("tokens", "dep_head")
    return cols.mapInPandas(run, schema="key string, cnt long, energy double")


def _em_stats(spark: SparkSession, sentences: DataFrame, model: SegModel,
              bc_static=None) -> tuple[dict, dict, float]:
    """(signature counts, chosen-pattern counts, total energy) in ONE job.

    Pass ``bc_static`` (a broadcast of ``model.payload_static()``) to
    amortize the trie broadcast across passes; without it a one-shot
    broadcast is created and destroyed here."""
    own = bc_static is None
    if own:
        bc_static = spark.sparkContext.broadcast(model.payload_static())
    rows = (
        _em_pass(sentences, bc_static, model.log_deps())
        .groupBy("key")
        .agg(F.sum("cnt").alias("cnt"), F.sum("energy").alias("energy"))
        .collect()
    )
    if own:
        bc_static.destroy()
    sig_cnt, pat_cnt, energy = {}, {}, 0.0
    for r in rows:
        if r.key == "energy":
            energy = float(r.energy or 0.0)
        elif r.key.startswith("s:"):
            sig_cnt[r.key[2:]] = int(r.cnt)
        else:
            pat_cnt[int(r.key[2:])] = int(r.cnt)
    return sig_cnt, pat_cnt, energy


def adjust_constraints(
    spark: SparkSession, sentences: DataFrame, model: SegModel,
    inner_iters: int = 10, rel_eps: float = EPS, bc_static=None,
) -> list[float]:
    """Inner EM loop (main.cpp:187-198 + adjustConstraints
    segmentation.h:884-967): segment → count chosen multi-word span
    signatures → deps_prob[sig] = cnt / total, until relative energy change
    < rel_eps. Returns the energy trajectory. One batch-compacted corpus
    pass per iteration (signature counts + energy ride the same job);
    the trie broadcast is created ONCE for the loop (only deps_prob
    changes between passes)."""
    own = bc_static is None
    if own:
        bc_static = spark.sparkContext.broadcast(model.payload_static())
    energies: list[float] = []
    last = 1e100
    try:
        for _ in range(inner_iters):
            cnts, _pat, energy = _em_stats(
                spark, sentences, model, bc_static=bc_static)
            model.deps_prob = {
                s: cnts.get(s, 0) / t
                for s, t in model.tree_total.items() if t > 0
            }
            energies.append(energy)
            if abs(energy - last) / abs(last) < rel_eps:
                break
            last = energy
    finally:
        if own:
            bc_static.destroy()
    return energies


def rectify_frequency(
    spark: SparkSession, sentences: DataFrame, model: SegModel,
    bc_static=None,
) -> SegModel:
    """A8 (rectifyFrequencyDeps, segmentation.h:816-882): pattern freq :=
    number of times Viterbi chose it; then rebuild trie/probs (patterns with
    rectified freq 0 drop out of the trie for multi-word, segmentation.h:46).
    """
    _sig, cnt, _energy = _em_stats(spark, sentences, model,
                                   bc_static=bc_static)
    new_patterns = [
        (toks, cnt.get(pid, 0), q, ind)
        for pid, (toks, _f, q, ind) in enumerate(model.patterns)
    ]
    model.patterns = new_patterns
    model._rebuild()
    return model
