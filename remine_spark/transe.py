"""ReMine-Global: TransE-style cohesiveness scoring (SURVEY §2 M12/M13, J7, W1).

The reference consumes externally-trained embeddings (postprocessing.py:7-25;
the trainer is absent from the repo — utils.py:236-240 only preps its corpus)
and ranks tuples by ‖e_subj + mean(e_rel) − e_obj‖₁ (postprocessing.py:27-55).
Per the north star this engine trains those embeddings itself with the
translating objective s + p ≈ o:

- training edges: tuples exploded to distinct (subj, rel, obj)
- margin ranking loss, L1 distance, head/tail corruption negatives
- one SGD step per epoch over a deterministic sample of the edge table

Training runs on the driver: one Spark job collects the distinct edges and
the epoch loop is numpy over int ids. The edge table is bounded by the
phrase vocabulary (121k edges at 1M docs), and at 5M edges one driver loop
still beat a Spark job per epoch, whose Python-UDF boundary and scheduling
cost more than the math. Scoring stays distributed: score_and_rank
broadcasts the trained model to a pandas UDF.

Determinism: negatives and sampling are seeded from (edge hash, epoch), and
gradient components are sums of ±1 margin signs (integer-valued doubles)
that add exactly in any order, so the result does not depend on edge order
or input partitioning; a resumed run equals an uninterrupted one.
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T, Window as W


def edges_from_tuples(tuples: DataFrame) -> DataFrame:
    """(subj, rel, obj) training edges: one per relation segment."""
    return (
        tuples.select("subj", F.explode("rels").alias("rel"), "obj")
        .groupBy("subj", "rel", "obj")
        .agg(F.count(F.lit(1)).alias("w"))
    )


class TransEModel:
    def __init__(self, ent2id: dict[str, int], rel2id: dict[str, int],
                 dim: int = 16, seed: int = 42):
        rng = np.random.default_rng(seed)
        bound = 6.0 / np.sqrt(dim)
        self.ent2id, self.rel2id = ent2id, rel2id
        self.E = rng.uniform(-bound, bound, (max(len(ent2id), 1), dim))
        self.R = rng.uniform(-bound, bound, (max(len(rel2id), 1), dim))
        self._normalize()
        self.dim = dim

    def _normalize(self):
        norms = np.maximum(np.linalg.norm(self.E, axis=1, keepdims=True), 1e-12)
        self.E = self.E / norms


def save_model(model: TransEModel, path: str, epoch: int) -> None:
    """Epoch checkpoint: parameters + vocab + last completed epoch.
    Atomic (a killed run never leaves a torn file); scheme-aware via fsio
    so s3a://-style workdirs checkpoint too."""
    import json

    from . import fsio

    fsio.write_text_atomic(path, json.dumps({
        "epoch": epoch,
        "dim": model.dim,
        "ents": sorted(model.ent2id, key=model.ent2id.get),
        "rels": sorted(model.rel2id, key=model.rel2id.get),
        "E": model.E.tolist(),
        "R": model.R.tolist(),
    }))


def load_model(path: str) -> tuple[TransEModel, int] | None:
    import json

    from . import fsio

    raw = fsio.read_text(path)
    if raw is None:
        return None
    blob = json.loads(raw)
    m = TransEModel({e: i for i, e in enumerate(blob["ents"])},
                    {r: i for i, r in enumerate(blob["rels"])},
                    dim=blob["dim"])
    m.E = np.asarray(blob["E"])
    m.R = np.asarray(blob["R"])
    return m, int(blob["epoch"])


# Edges per vectorized step: bounds the (chunk × dim) gather temporaries.
# Output does not depend on it (see _epoch_grads).
_CHUNK = 16_384


def _scatter_add(G: np.ndarray, idx: np.ndarray, g: np.ndarray) -> None:
    """G[idx] += g with repeated rows, on the flat view (1-D ufunc.at is
    ~2x faster than the row-wise form)."""
    d = G.shape[1]
    np.add.at(G.reshape(-1), (idx[:, None] * d + np.arange(d)).ravel(),
              g.ravel())


def _epoch_grads(E: np.ndarray, R: np.ndarray, hi: np.ndarray,
                 ri: np.ndarray, ti: np.ndarray, h: np.ndarray, epoch: int,
                 margin: float, sample_fraction: float
                 ) -> tuple[np.ndarray, np.ndarray]:
    """Dense (dE, dR) for one epoch over all edges, against the epoch-start
    parameters. Every component is a sum of ±1 margin signs — an
    integer-valued double — so the chunked scatter-add is exact and
    independent of chunk size and edge order."""
    GE, GR = np.zeros_like(E), np.zeros_like(R)
    n_ent = np.uint64(E.shape[0])
    # splitmix-style epoch mix of the per-edge base hash
    # (constants folded in Python ints — intended mod-2^64 wrap)
    mix = np.uint64((epoch * 0x9E3779B97F4A7C15) % (1 << 64))
    for lo in range(0, h.size, _CHUNK):
        key = h[lo:lo + _CHUNK] + mix
        key ^= key >> np.uint64(31)
        key *= np.uint64(0xBF58476D1CE4E5B9)
        key ^= key >> np.uint64(27)
        hc, rc, tc = hi[lo:lo + _CHUNK], ri[lo:lo + _CHUNK], ti[lo:lo + _CHUNK]
        if sample_fraction < 1.0:
            keep = ((key % np.uint64(10_000)).astype(np.float64)
                    / 10_000.0 < sample_fraction)
            hc, rc, tc, key = hc[keep], rc[keep], tc[keep], key[keep]
        # seeded negatives: corrupt head or tail with a hashed entity
        corrupt_head = ((key >> np.uint64(8)) & np.uint64(1)).astype(bool)
        ni = ((key >> np.uint64(16)) % n_ent).astype(np.int64)
        hn = np.where(corrupt_head, ni, hc)
        tn = np.where(corrupt_head, tc, ni)
        rr = R.take(rc, axis=0)
        pos = E.take(hc, axis=0) + rr - E.take(tc, axis=0)
        neg = E.take(hn, axis=0) + rr - E.take(tn, axis=0)
        act = margin + np.abs(pos).sum(axis=1) - np.abs(neg).sum(axis=1) > 0
        gp = np.sign(pos[act])      # d|x|/dx
        gn = np.sign(neg[act])
        _scatter_add(GE, np.concatenate([hc[act], tc[act], hn[act], tn[act]]),
                     np.concatenate([gp, -gp, -gn, gn]))
        _scatter_add(GR, rc[act], gp - gn)
    return GE, GR


def fit(
    spark: SparkSession, tuples: DataFrame,
    dim: int = 16, epochs: int = 20, lr: float = 0.05, margin: float = 1.0,
    sample_fraction: float = 1.0, seed: int = 42,
    checkpoint_path: str | None = None, checkpoint_every: int = 5,
) -> TransEModel:
    """TransE training on the driver. One Spark job collects the distinct
    edges with their seeded base hash; the epoch loop is numpy over int
    ids: dense gradients per epoch, then one SGD step and re-normalization.
    With ``checkpoint_path`` the model is saved every ``checkpoint_every``
    epochs and a rerun resumes after the last saved epoch."""
    pdf = edges_from_tuples(tuples).select(
        "subj", "rel", "obj",
        F.xxhash64("subj", "rel", "obj", F.lit(seed)).alias("h"),
    ).toPandas()
    ents = sorted(set(pdf["subj"]).union(pdf["obj"]))
    rels = sorted(set(pdf["rel"]))
    model = TransEModel({e: i for i, e in enumerate(ents)},
                        {r: i for i, r in enumerate(rels)}, dim=dim, seed=seed)
    if not ents or not rels:
        return model

    # mid-run resume (north_star: the embed stage resumes mid-run): pick up
    # from the last epoch checkpoint when vocab matches; epoch keys are
    # derived from (edge hash, epoch), so the continuation is identical to
    # an uninterrupted run
    start_epoch = 0
    if checkpoint_path is not None:
        ck = load_model(checkpoint_path)
        if ck is not None and ck[0].ent2id == model.ent2id \
                and ck[0].rel2id == model.rel2id and ck[0].dim == dim:
            model, start_epoch = ck[0], ck[1] + 1

    ent_ix = pd.Index(ents)
    hi = ent_ix.get_indexer(pdf["subj"]).astype(np.int64)
    ti = ent_ix.get_indexer(pdf["obj"]).astype(np.int64)
    ri = pd.Index(rels).get_indexer(pdf["rel"]).astype(np.int64)
    h = pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
    del pdf
    for epoch in range(start_epoch, epochs):
        GE, GR = _epoch_grads(model.E, model.R, hi, ri, ti, h, epoch,
                              margin, sample_fraction)
        # an untouched row is x - lr*0.0 == x exactly
        model.E -= lr * GE
        model.R -= lr * GR
        model._normalize()
        if checkpoint_path is not None and (
                (epoch + 1) % checkpoint_every == 0 or epoch == epochs - 1):
            save_model(model, checkpoint_path, epoch)
    return model


def embeddings_df(spark: SparkSession, model: TransEModel) -> DataFrame:
    """Materialized embedding tables (FIXTURES.md §6 shape). Built through
    a pandas frame so createDataFrame ships ONE Arrow batch instead of
    pickling a python row per phrase (measured driver-side win at
    vocab × dim scale)."""
    ents = sorted(model.ent2id, key=model.ent2id.get)
    rels = sorted(model.rel2id, key=model.rel2id.get)
    pdf = pd.DataFrame({
        "phrase": ents + rels,
        "kind": ["entity"] * len(ents) + ["relation"] * len(rels),
        "vec": [model.E[i].astype("float32").tolist()
                for i in range(len(ents))]
        + [model.R[j].astype("float32").tolist() for j in range(len(rels))],
    })
    return spark.createDataFrame(
        pdf, schema="phrase string, kind string, vec array<float>")


def score_and_rank(spark: SparkSession, tuples: DataFrame,
                   model: TransEModel) -> DataFrame:
    """M12 + W1: score = ‖e_subj + mean(e_rels) − e_obj‖₁
    (postprocessing.py:40-50), rank per doc ascending (better = smaller)."""
    bc = spark.sparkContext.broadcast(
        (model.E, model.R, model.ent2id, model.rel2id))

    @F.pandas_udf(T.DoubleType())
    def transe_score(subj: pd.Series, rels: pd.Series, obj: pd.Series) -> pd.Series:
        E, R, e2i, r2i = bc.value
        out = []
        for s, rl, o in zip(subj, rels, obj):
            if s not in e2i or o not in e2i:
                out.append(float("nan"))
                continue
            rvecs = [R[r2i[r]] for r in rl if r in r2i]
            if not rvecs:
                out.append(float("nan"))
                continue
            rm = np.mean(rvecs, axis=0)
            out.append(float(np.abs(E[e2i[s]] + rm - E[e2i[o]]).sum()))
        return pd.Series(out)

    scored = tuples.withColumn(
        "score", transe_score(F.col("subj"), F.col("rels"), F.col("obj")))
    w = W.partitionBy("doc_id").orderBy(F.asc_nulls_last("score"),
                                        F.asc("sent_id"), F.asc("subj"))
    return scored.withColumn("rank", F.row_number().over(w))
