"""Mention derivation + shortest-dep-path tuple extraction (SURVEY §2
P5/W5/J5/J6, M10/M11).

One extraction kernel, ``extraction_df``, serves both the batch pipeline
and the stream (streaming/kg_update.py keeps its tuple rows), so the two
KG paths cannot drift apart. One Arrow pass per sentence batch replaces
the reference's remine-ie.sh stages 3-6 (segment → extract → transformat
→ remine --mode 1): segment (M7/M8) → mentions (postprocessing.py:103-199)
→ genSepath (genSepath.h:54-211) → TUPLE_MODE Viterbi keeping RP spans
(remine.cpp:45-48, Segmentation ctor segmentation.h:491-497) → tuple rows.

Final-triple formatting mirrors postprocessing.py:
- pred = '_'.join(path tokens) with '_and' removed (generate_output,
  postprocessing.py:71-75)
- args are ``entity_key``s: lowercased, "''" stripped, spaces → '_'
  (loadRMTest, postprocessing.py:326-327)
- gates: path not a lone punct token (postprocessing.py:259), sentence POS
  contains VB or IN (postprocessing.py:324), ≥1 RP segment on the path
  (postprocessing.py:332), both args non-empty (postprocessing.py:328).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import algo
from .nlp import PUNC


def entity_key(surface: str) -> str:
    """The one rule that turns a mention surface into an entity key:
    lowercased, "''" stripped, spaces → '_' (loadRMTest,
    postprocessing.py:326-327). Triple endpoints and the entity map's
    ``entity`` are both this key, so an edge endpoint needs no lookup."""
    return surface.lower().replace("''", "").replace(" ", "_")


def extract_tuples_py(toks, pos, heads, types, m) -> tuple[list, list]:
    """Single-sentence end-to-end extraction given a model payload ``m``.
    Returns (mentions, tuples); mention = (start, end, text), tuple =
    (subj, pred, obj, rels, s_span, o_span). Shared by the Spark kernel
    and the single-node oracle (eval.mirror_triples)."""
    deps = [(i, int(h)) for i, h in enumerate(heads)]
    segs, _ = algo.segment_sentence(
        toks, deps, m["trie"], m["patterns"], m["prob"],
        m["deps_logprob"], m["default_logprob"],
    )
    ments = algo.mentions_from_segments(segs, toks, pos, m["patterns"])
    out = []
    if len(ments) < 2:
        return ments, out
    ems = [(s, e) for (s, e, _t) in ments]
    paths = algo.gen_sepath(deps, pos, list(types), ems)
    if not paths:
        return ments, out
    pos_all = "".join(pos)
    if "VB" not in pos_all and "IN" not in pos_all:
        return ments, out  # postprocessing.py:324
    for j, (mi, bgs) in paths.items():
        ranges = sorted(p - 1 for p in bgs)  # 1-based → 0-based
        if len(ranges) == 1 and toks[ranges[0]] in PUNC:
            continue  # postprocessing.py:259
        rm_tokens = [toks[r] for r in ranges]
        rm_deps = [(r, int(heads[r])) for r in ranges]
        segs, _ = algo.segment_sentence(
            rm_tokens, rm_deps, m["trie"], m["patterns"], m["prob_tuple"],
            m["deps_logprob"], m["default_logprob"], rp_only=True,
        )
        rels = []
        for (s, e, pid, ok) in segs:
            if ok:
                item = "_".join(rm_tokens[s:e]).lower()
                if item not in PUNC:
                    rels.append(item)  # loadRMTest postprocessing.py:314-321
        if not rels:
            continue
        subj, obj = entity_key(ments[mi][2]), entity_key(ments[j][2])
        if not subj or not obj:
            continue
        pred = "_".join(rm_tokens).replace("_and", "")
        out.append((subj, pred, obj, rels, ems[mi], ems[j]))
    return ments, out


EXTRACTION_SCHEMA = (
    "url string, doc_id long, sent_id int, kind string, "
    "start int, end int, text string, entity string, "
    "subj string, pred string, obj string, rels array<string>, "
    "subj_start int, subj_end int, obj_start int, obj_end int"
)

_EXTRACTION_COLS = [f.strip().split(" ")[0]
                    for f in EXTRACTION_SCHEMA.split(",")]


def extraction_df(sentences: DataFrame, bc_model) -> DataFrame:
    """The extraction kernel: ONE Viterbi segmentation per sentence feeds
    both the mention and the tuple table, emitted as a tagged union
    (kind 'm' = mention row, kind 't' = tuple row). A mention row carries
    its ``entity_key``, the key every tuple endpoint of the same call
    already is, so the entity map and the edges need no key of their
    own. The pipeline
    checkpoints this union partitioned by ``kind`` so each downstream
    table re-reads only its own files (partition pruning); the stream
    filters to kind 't' in the same plan."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bc_model.value
        for pdf in batches:
            rows = []
            for url, did, sid, toks, pos, heads, types in zip(
                pdf["url"], pdf["doc_id"], pdf["sent_id"],
                pdf["tokens"], pdf["pos"], pdf["dep_head"], pdf["dep_type"],
            ):
                ments, tups = extract_tuples_py(
                    list(toks), list(pos), list(heads), list(types), m)
                for (s, e, text) in ments:
                    rows.append((url, did, sid, "m", int(s), int(e), text,
                                 entity_key(text), None, None, None, None,
                                 None, None, None, None))
                for (subj, pred, obj, rels, sspan, ospan) in tups:
                    rows.append((url, did, sid, "t", None, None, None, None,
                                 subj, pred, obj, rels,
                                 int(sspan[0]), int(sspan[1]),
                                 int(ospan[0]), int(ospan[1])))
            if rows:
                yield pd.DataFrame(rows, columns=_EXTRACTION_COLS)

    cols = sentences.select("url", "doc_id", "sent_id", "tokens", "pos",
                            "dep_head", "dep_type")
    return cols.mapInPandas(run, schema=EXTRACTION_SCHEMA)


def tuple_rows(extraction: DataFrame) -> DataFrame:
    """The tuple table of an ``extraction_df`` union (its kind 't' rows)."""
    return extraction.filter(F.col("kind") == "t").select(
        "url", "doc_id", "sent_id", "subj", "pred", "obj", "rels",
        "subj_start", "subj_end", "obj_start", "obj_end")
