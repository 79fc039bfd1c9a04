"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship knowledge-graph construction run — wraps the
  sf0.001 ``documents`` table into the pages(url, warc_ts, html, text, lang)
  input shape and runs the full ReMine pipeline (extract → tokenize/parse →
  mine → EM-fit segmentation → dep-path tuples → TransE rank), returning the
  ranked triples DataFrame.
- ``queries()`` / ``oracle_sql()``: operator catalog from SURVEY §2 plus
  training-data pipeline ops, checked against DuckDB (remine_spark/queries.py).
  Non-SQL-expressible pipeline operators are exposed as rows-only queries.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from remine_spark import pipeline as _pipeline
from remine_spark.queries import QUERIES as _CATALOG
from remine_spark.synth import render_html as _render_html


def _pages_from_documents(spark: SparkSession, sf_dir: str,
                          max_doc_id: int | None = None) -> DataFrame:
    """documents(doc_id, text, lang, ...) → pages(url, warc_ts, html, text, lang).

    html is the deterministic wrapper from remine_spark.synth so the
    extractor's byte-identical invariant holds on this corpus too.
    ``max_doc_id`` takes a deterministic slice (a filter, never .limit(),
    whose row choice is partition-order-dependent)."""

    @F.pandas_udf(T.BinaryType())
    def render(text: pd.Series) -> pd.Series:
        return text.map(_render_html)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if max_doc_id is not None:
        d = d.filter(F.col("doc_id") < max_doc_id)
    return d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        render(F.col("text")).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def _tmp_dir(kind: str, sf_dir: str) -> str:
    """A fixed directory per entry kind and scale factor under the temp
    dir, named with the checkpoint layout so a workdir of an older layout
    is never resumed. Its siblings of other layouts
    (``remine_<kind>_<tag>_<sf>``, e.g. ``remine_entry_v5_sf0.001``) are
    removed: no code reads them again. A tag holds no ``_``, so the
    directories of other kinds and scale factors are left alone."""
    tmp, sf = tempfile.gettempdir(), os.path.basename(os.path.normpath(sf_dir))
    name = f"remine_{kind}_layout{_pipeline.CHECKPOINT_LAYOUT}_{sf}"
    prefix, suffix = f"remine_{kind}_", f"_{sf}"
    for old in glob.glob(os.path.join(tmp, glob.escape(prefix) + "*"
                                      + glob.escape(suffix))):
        tag = os.path.basename(old)[len(prefix):-len(suffix)]
        if "_" not in tag and os.path.basename(old) != name:
            shutil.rmtree(old, ignore_errors=True)
    return os.path.join(tmp, name)


def _flagship_workdir(sf_dir: str) -> str:
    return _tmp_dir("entry", sf_dir)


def _fresh_tmp_dir(kind: str, sf_dir: str) -> str:
    """``_tmp_dir`` emptied first: a streaming entry starts from no
    checkpoint, and repeated calls reuse one directory (the frame an
    entry returns reads from it, so collect it before the next call)."""
    root = _tmp_dir(kind, sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    return root


def _run_flagship(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    pages = _pages_from_documents(spark, sf_dir)
    return _pipeline.run_pipeline(
        spark, pages, _flagship_workdir(sf_dir),
        inner_iters=2, transe_epochs=5, resume=True)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows ≥ 0."""
    out = _run_flagship(spark, "/root/testdata/sf0.001")
    return out["triples"].select(
        "url", "doc_id", "sent_id", "subj", "pred", "obj", "score", "rank")


# --- rows-only (non-SQL-expressible) pipeline operators -------------------

def _remine_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _run_flagship(spark, sf_dir)
    return out["triples"].select(
        "url", "doc_id", "sent_id", "subj", "pred", "obj", "score", "rank")


def _remine_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _run_flagship(spark, sf_dir)
    return out["mentions"]


def _remine_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _run_flagship(spark, sf_dir)
    return out["entities"]


def _remine_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _run_flagship(spark, sf_dir)
    return out["edges"].select(
        "subj_id", "obj_id", "subj", "pred", "obj", "score", "rank",
        "doc_id", "sent_id", "url")


def _remine_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Driver-hashable projection of kg_embeddings(phrase, kind, vec):
    # the raw array<float> column breaks the driver's canonicalizer
    # (pandas sort_values → "unhashable type: 'list'"), so the vector is
    # exploded to one (phrase, kind, pos, value) row per component with
    # the value rounded — same information, scalar columns only.
    out = _run_flagship(spark, sf_dir)
    return out["kg_embeddings"].select(
        "phrase", "kind",
        F.posexplode(F.col("vec").cast("array<double>")).alias("pos", "value"),
    ).withColumn("value", F.round("value", 6))


def _streaming_kg_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Structured-Streaming seam under the driver gate (rows-only —
    a foreachBatch stream is not SQL-expressible): the batch pipeline
    trains + checkpoints the segmentation model, then a fixed slice of
    pages "arrives" as files and run_incremental_kg drains them through
    the FROZEN model into the epoch-partitioned triples sink
    (streaming/kg_update.py — exactly-once per file, replayed epochs
    overwrite their own partition). Deterministic: fixed input slice
    (doc_id < 40), frozen model from the shared flagship workdir, seeded
    extraction, one availableNow micro-batch → epoch_id 0."""
    from remine_spark.streaming import kg_update

    _run_flagship(spark, sf_dir)  # trains + saves the model (resume=True)
    root = _fresh_tmp_dir("stream_entry", sf_dir)
    in_dir = os.path.join(root, "in")
    out_dir = os.path.join(root, "out")
    ck_dir = os.path.join(root, "ckpt")
    _pages_from_documents(spark, sf_dir, max_doc_id=40) \
        .write.mode("overwrite").parquet(in_dir)
    kg_update.run_incremental_kg(
        spark, in_dir, out_dir, ck_dir, _flagship_workdir(sf_dir))
    # bucket is dropped: it hashes against the session's parallelism-
    # derived bucket count, which is environment- not data-determined
    return spark.read.parquet(out_dir).select(
        "url", "doc_id", "sent_id", "subj", "pred", "obj", "epoch_id")


def _streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under the driver gate — HASH-CHECKED: the
    doc_id < 40 page slice is written twice (a simulated re-crawl), the
    availableNow stream suppresses second arrivals on the content
    fingerprint (streaming/dedup_stream.py, state in the checkpoint), and
    the surfaced column is the fingerprint set itself — deterministic
    regardless of which arrival won, so DuckDB can replay it as
    SELECT DISTINCT md5(text) over the same slice."""
    from remine_spark.streaming import dedup_stream

    root = _fresh_tmp_dir("sdedup", sf_dir)
    in_dir = os.path.join(root, "in")
    out_dir = os.path.join(root, "out")
    ck_dir = os.path.join(root, "ckpt")
    slice_df = _pages_from_documents(spark, sf_dir, max_doc_id=40)
    slice_df.write.mode("overwrite").parquet(in_dir)
    slice_df.write.mode("append").parquet(in_dir)  # the re-crawl
    dedup_stream.run_dedup_stream(spark, in_dir, out_dir, ck_dir)
    return spark.read.parquet(out_dir).select("fp")


_STREAMING_DEDUP_SQL = """
    SELECT DISTINCT md5(coalesce(text, '')) AS fp
    FROM documents WHERE doc_id < 40
"""


def _correctness_history() -> dict[str, int]:
    """name → latest round with a *usable* driver CORRECTNESS row.

    Read mechanically from the CORRECTNESS_r*.json files the driver leaves
    in the repo root. A row that recorded an error (other than the by-design
    ``no_oracle`` rows-only marker) does NOT count — a red row means the
    entry still needs verification, so it sorts as never-recorded."""
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    hist: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                blob = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in blob.items():
            if isinstance(row, dict) and row.get("err") not in (None, "no_oracle"):
                continue
            hist[name] = max(hist.get(name, -1), rnd)
    return hist


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration order matters: the driver's correctness gate records a
    # capped number of entries per round (50 in r3 vs 58 registered), so
    # ordering is derived MECHANICALLY from the CORRECTNESS_r*.json
    # history: never-recorded (or red-recorded) entries first, then
    # stalest-first, so no entry ever goes two rounds unverified. Ties
    # keep catalog order, with the flagship five adjacent — they share one
    # resume=True workdir, so only the first pays the cold pipeline run.
    base: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "remine_triples": _remine_triples,
        "remine_mentions": _remine_mentions,
        "remine_entities": _remine_entities,
        "remine_edges": _remine_edges,
        "remine_embeddings": _remine_embeddings,
        "streaming_kg_update": _streaming_kg_update,
        "streaming_dedup": _streaming_dedup,
    }
    for name, spec in _CATALOG.items():
        if name not in base:
            base[name] = spec["spark"]
    hist = _correctness_history()
    names = list(base)
    order = sorted(range(len(names)),
                   key=lambda i: (hist.get(names[i], -1), i))
    return {names[i]: base[names[i]] for i in order}


def oracle_sql() -> dict[str, str]:
    sqls = {name: spec["sql"] for name, spec in _CATALOG.items()
            if spec["sql"] is not None}
    # the streaming dedup surfaces a deterministic fingerprint set, so it
    # is hash-checkable even though the operator itself is a stream
    sqls["streaming_dedup"] = _STREAMING_DEDUP_SQL
    return sqls
