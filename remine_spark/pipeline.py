"""End-to-end pipeline with checkpointed, resumable stage boundaries.

north_rule requirements implemented here:
- every stage boundary is a parquet checkpoint (written and re-read as
  parquet; no other table format is supported);
- resume: ``run_pipeline`` skips any stage whose checkpoint already exists
  (kill it after stage k, relaunch, it picks up at k+1 — tested);
- per-partition lineage + metrics rows are appended to ``<workdir>/lineage``
  for every materialized stage;
- the triples sink is salted by subj-hash (``pmod(xxhash64(subj), n)``) to
  defuse head-entity skew before the final shuffle/write; the edges sink is
  a projection of the triples re-read, in the same buckets, with no second
  shuffle.

Stage graph (SURVEY §3.4):
pages → sentences → patterns → [census + EM fit] → mentions
                                                 → tuples → transe → triples
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import fsio, mining, model as model_mod, transe, tuples as tuples_mod
from .corpus import sentences_from_pages

# Stage-checkpoint schema version, recorded in every workdir's
# input_fingerprint.json. Bump it when any stage's output schema or
# semantics change: resume=True then refuses the older workdir instead of
# re-reading its checkpoints with NULL-filled columns. (6: chunk columns
# on sentences, is_boost on patterns, entity_id on entities, one fused
# kind-partitioned extraction checkpoint. 7: mention rows of the
# extraction checkpoint carry their entity key, the entity map groups by
# it, and edges are a projection of the triples, bucketed as the
# triples.)
CHECKPOINT_LAYOUT = 7


def _n_buckets(spark: SparkSession) -> int:
    """Salted-sink bucket count. The salt exists to defuse head-entity skew
    at the final shuffle/write; its COUNT tracks the write parallelism, not
    a constant: r2's fixed 64 buckets made the two partitioned sinks a
    ~19 s fan-in floor at local[32] (and measured catastrophically at 128
    dirs: dynamic-partition commit cost is per-directory). parallelism/2
    bounded to [8, 4096] gives single-digit file counts on a laptop and ~4k
    on a 1000-executor cluster."""
    return min(4096, max(8, spark.sparkContext.defaultParallelism // 2))


def salted_triples(ranked: DataFrame) -> DataFrame:
    """The triples projection of a ranked tuple frame, salted for every
    triples sink (the batch checkpoint and the stream's epoch table):
    ``bucket = pmod(xxhash64(subj), n)``, one shuffle into ``n`` partitions
    on it, so a bucket-partitioned write gives one file per bucket."""
    n = _n_buckets(ranked.sparkSession)
    return ranked.select(
        "url", "doc_id", "sent_id", "subj", "pred", "obj", "score", "rank",
        F.pmod(F.xxhash64("subj"), F.lit(n)).alias("bucket"),
    ).repartition(n, F.col("bucket"))


def _exists(path: str) -> bool:
    return fsio.exists(os.path.join(path, "_SUCCESS"))


def _lineage(spark: SparkSession, workdir: str, stage: str, path: str,
             wall_s: float, schema=None) -> None:
    """Per-partition lineage/metrics rows (north_rule): one row per written
    file (file == write partition). Local workdirs read the parquet FOOTERS
    — no extra Spark job per checkpoint (footer metadata is exact and
    already on disk). Object-store workdirs (s3a://…) derive the same rows
    with one small Spark job (count per input_file_name) since footers are
    not byte-addressable without a remote read anyway."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    now = time.time()
    rows = []
    if not fsio.is_remote(path):
        for pid, f in enumerate(sorted(
                glob.glob(os.path.join(path, "**", "*.parquet"),
                          recursive=True))):
            rows.append((pid, int(pq.ParquetFile(f).metadata.num_rows), stage,
                         float(wall_s), now, os.path.relpath(f, path)))
    else:
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)  # empty checkpoint: no footers
        counts = (reader.parquet(path)
                  .groupBy(F.input_file_name().alias("f"))
                  .agg(F.count(F.lit(1)).alias("n")).collect())
        for pid, r in enumerate(sorted(counts, key=lambda r: r["f"])):
            rows.append((pid, int(r["n"]), stage, float(wall_s), now,
                         r["f"].rsplit("/", 1)[-1]))

    table = pa.table({
        "partition_id": pa.array([r[0] for r in rows], pa.int32()),
        "rows": pa.array([r[1] for r in rows], pa.int64()),
        "stage": pa.array([r[2] for r in rows]),
        "wall_s": pa.array([r[3] for r in rows], pa.float64()),
        "ts": pa.array([int(r[4] * 1e6) for r in rows],
                       pa.timestamp("us", tz="UTC")),
        "file": pa.array([r[5] for r in rows]),
    })
    ldir = os.path.join(workdir, "lineage")
    fname = f"{stage}-{int(now * 1000)}.parquet"
    if not fsio.is_remote(ldir):
        os.makedirs(ldir, exist_ok=True)
        pq.write_table(table, os.path.join(ldir, fname))
    else:
        # one tiny single-partition write through the same FS connector
        (spark.createDataFrame(table.to_pandas())
         .coalesce(1).write.mode("append").parquet(ldir))


def _read_wide(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Re-read a stage checkpoint. Scan parallelism (and therefore the task
    count of every python stage downstream) comes from Spark's byte-based
    split packing: a small checkpoint packs into about one task per core
    (one wave of python tasks), a checkpoint of fewer files than cores
    reads one task per file, and large files split at 128 MiB. No
    repartition here: a shuffle in the re-read plan would be re-paid by
    every downstream pass.

    ``schema`` makes empty checkpoints readable (a degenerate stage writes
    only _SUCCESS; schema inference would fail)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def checkpoint(spark: SparkSession, workdir: str, stage: str, df: DataFrame,
               resume: bool = True, partition_cols: list[str] | None = None
               ) -> DataFrame:
    """Write-or-reuse a stage checkpoint; returns the re-read DataFrame (so
    downstream plans cut lineage at the materialized table). On reuse
    ``df`` is never executed: only its schema is read."""
    path = os.path.join(workdir, stage)
    if not (resume and _exists(path)):
        t0 = time.time()
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(path)
        _lineage(spark, workdir, stage, path, time.time() - t0,
                 schema=df.schema)
    return _read_wide(spark, path, schema=df.schema)


def save_model(workdir: str, m: model_mod.SegModel,
               name: str = "segmodel.json", outer_done: int | None = None) -> None:
    blob = {
        "patterns": [[list(t), f, q, i] for (t, f, q, i) in m.patterns],
        "tree_total": m.tree_total,
        "deps_prob": m.deps_prob,
    }
    if outer_done is not None:
        blob["outer_done"] = outer_done
    # atomic, never torn; routes via Hadoop FS for s3a://-style workdirs
    fsio.write_text_atomic(os.path.join(workdir, name), json.dumps(blob))


def load_model(workdir: str, name: str = "segmodel.json"
               ) -> model_mod.SegModel | None:
    raw = fsio.read_text(os.path.join(workdir, name))
    if raw is None:
        return None
    blob = json.loads(raw)
    pats = [(tuple(t), int(f), float(q), i) for (t, f, q, i) in blob["patterns"]]
    m = model_mod.SegModel(pats, {k: int(v) for k, v in blob["tree_total"].items()},
                           deps_prob=blob["deps_prob"])
    m.outer_done = int(blob.get("outer_done", 0))
    return m


def _guard_resume_input(pages: DataFrame, workdir: str, resume: bool) -> None:
    """Refuse to resume a workdir whose checkpoints came from DIFFERENT
    input or an older ``CHECKPOINT_LAYOUT``: stale-workdir resume silently
    yields triples for a corpus the caller never passed (observed in
    practice with a shared /tmp workdir), and a checkpoint of an older
    layout re-reads with NULL-filled columns. ``resume=False`` recomputes
    and re-stamps the marker.
    For file-backed inputs the fingerprint is driver-side only — the
    sorted input file list plus the schema — no data scan, so it costs
    nothing at 100 TB. In-memory inputs (inputFiles() == []) have no file
    identity, and schema alone would let a DIFFERENT in-memory corpus of
    the same shape silently reuse stale checkpoints — the exact failure
    the guard exists to stop — so they additionally mix in a cheap
    content probe: row count + order-independent bit_xor of
    xxhash64(url, text) — text included because synthetic/profiling
    corpora often share a url scheme across variants (one aggregate job
    over a corpus that is by definition already in memory, never a
    100-TB scan)."""
    import hashlib

    files = sorted(pages.inputFiles())
    content = ""
    if not files:
        probe = pages.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(url, text))").alias("h")).first()
        content = f"\0inmem:{probe['n']}:{probe['h']}"
    fp = hashlib.md5(
        ("\n".join(files) + "\0" + pages.schema.json() + content).encode()
    ).hexdigest()
    marker = os.path.join(workdir, "input_fingerprint.json")
    prior = fsio.read_text(marker)
    if prior is not None and resume:
        blob = json.loads(prior)
        if blob.get("layout") != CHECKPOINT_LAYOUT:
            raise ValueError(
                f"workdir {workdir!r} holds checkpoints of layout "
                f"{blob.get('layout')!r}, this code writes layout "
                f"{CHECKPOINT_LAYOUT}. Use a fresh --workdir or pass "
                "resume=False/--no-resume to recompute.")
        if blob.get("fingerprint") != fp:
            raise ValueError(
                f"workdir {workdir!r} holds checkpoints for different input "
                f"(fingerprint {blob.get('fingerprint')!r} != {fp!r}, "
                f"{blob.get('n_files')} vs {len(files)} input files). "
                "Use a fresh --workdir or pass resume=False/--no-resume to "
                "recompute.")
    fsio.write_text_atomic(marker, json.dumps(
        {"fingerprint": fp, "n_files": len(files),
         "layout": CHECKPOINT_LAYOUT}))


def run_pipeline(
    spark: SparkSession, pages: DataFrame, workdir: str,
    min_sup: int = mining.MIN_SUP, max_len: int = mining.MAX_LEN,
    outer_iters: int = 2, inner_iters: int = 4,
    transe_epochs: int = 20, transe_dim: int = 16,
    resume: bool = True,
    quality_pools: tuple[set, set] | None = None,
) -> dict[str, DataFrame]:
    """Full run. Returns the materialized stage DataFrames.

    ``quality_pools=(entity_pool, relation_pool)`` switches the phrase
    quality source from the deterministic rule table to the pyspark.ml
    DPDN RandomForest (classifier.py — M3/M4/M5); downstream consumes
    only the (indicator, quality) contract either way."""
    fsio.makedirs(workdir)
    _guard_resume_input(pages, workdir, resume)
    timings: dict[str, float] = {}
    _t0 = [time.time()]

    def _mark(phase: str) -> None:
        now = time.time()
        timings[phase] = round(now - _t0[0], 2)
        _t0[0] = now

    # 1. sentences (S1 + UDF1/UDF2)
    sentences = checkpoint(
        spark, workdir, "sentences", sentences_from_pages(pages), resume)
    _mark("sentences")

    # 2. patterns (A1/A2 + M14 chunk boost + M3/M5 quality): one lazy
    # plan that the checkpoint writes or, on a resume hit, only reads with
    # this plan's schema (both quality sources emit the same net columns:
    # the raw pattern columns + (indicator, quality))
    raw_patterns = mining.mine_patterns_boosted(sentences, min_sup, max_len)
    scored_patterns = model_mod.assign_quality(raw_patterns)
    stage_caches: list[DataFrame] = []
    if quality_pools is not None and not (
            resume and _exists(os.path.join(workdir, "patterns"))):
        from remine_spark import classifier

        # the mined table feeds the corpus feature pass, the forest fit and
        # the scoring write: persist it so the corpus explode-agg runs once
        raw_patterns = raw_patterns.persist()
        # ONE corpus-context feature pass (occurrence explode + semi-join
        # + outside-idf window), the stage's dominant cost, shared by the
        # forest fit AND the scoring pass
        cfeats = classifier.corpus_features(raw_patterns, sentences, max_len)
        stage_caches += [raw_patterns, cfeats]
        feats = classifier.featurize(raw_patterns, cfeats)
        rf, asm = classifier.fit_quality_forest(
            feats, quality_pools[0], quality_pools[1])
        scored_patterns = classifier.assign_quality_ml(feats, rf, asm)
    patterns_df = checkpoint(
        spark, workdir, "patterns", scored_patterns, resume)
    # the checkpoint has materialized everything derived from the mined
    # table and the corpus feature table — release their block-manager
    # storage (they otherwise accumulate across runs in one session)
    for df in stage_caches:
        df.unpersist()
    _mark("patterns")

    # 3. ReMine-Local fit (A6/A7/A8 + M9)
    # The fit + mention/tuple stages make ~6 full passes over sentences.
    # They deliberately re-scan the parquet checkpoint rather than a Spark
    # cache: parquet→Arrow is columnar→columnar (fast into pandas UDFs),
    # while a row-format cache pays row→Arrow conversion on every pass —
    # measured slower. Scan width is Spark's byte-based packing: these
    # small checkpoints re-read as about one task per core, so every pass
    # is one wave of python tasks.
    m = load_model(workdir) if resume else None
    if m is None:
        # mid-fit resume (north_star: the segment/fit stage resumes
        # mid-run): each completed outer EM iteration checkpoints the
        # model; a killed run restarts at the next outer iteration
        start_iter = 0
        partial = load_model(workdir, "segmodel_partial.json") if resume else None
        if partial is not None:
            m, start_iter = partial, partial.outer_done
        else:
            tree_total = model_mod.subtree_census(sentences, max_len)
            m = model_mod.model_from_patterns(patterns_df, tree_total)
        for it in range(start_iter, outer_iters):
            # one model broadcast per outer iteration: the inner passes
            # only re-estimate deps_prob, which each pass ships in its
            # task closure (see model._em_pass)
            bc_model = spark.sparkContext.broadcast(m.payload())
            try:
                model_mod.adjust_constraints(sentences, m,
                                             inner_iters=inner_iters,
                                             bc_model=bc_model)
                m = model_mod.rectify_frequency(sentences, m,
                                                bc_model=bc_model)
            finally:
                bc_model.destroy()
            save_model(workdir, m, "segmodel_partial.json", outer_done=it + 1)
        save_model(workdir, m)
    _mark("em_fit")

    bc = spark.sparkContext.broadcast(m.payload())

    # 4. mentions (entity map input, keyed) + tuples (M10/M11) — one fused
    # extraction pass (a single Viterbi segmentation per sentence feeds
    # both tables), checkpointed as a kind-partitioned union so each
    # table's re-read prunes to its own files
    extraction = checkpoint(
        spark, workdir, "extraction",
        tuples_mod.extraction_df(sentences, bc), resume,
        partition_cols=["kind"])
    mentions = extraction.filter(F.col("kind") == "m").select(
        "url", "doc_id", "sent_id", "start", "end", "text")
    tuples = tuples_mod.tuple_rows(extraction)
    _mark("mentions_tuples")

    # 5. ReMine-Global (M12/M13) + ranked triples sink, subj-hash salted (S8)
    te = transe.fit(
        spark, tuples, dim=transe_dim, epochs=transe_epochs,
        checkpoint_path=(os.path.join(workdir, "transe_model.json")
                         if resume else None))
    kg_embeddings = checkpoint(
        spark, workdir, "kg_embeddings", transe.embeddings_df(spark, te),
        resume)
    _mark("transe")
    triples = checkpoint(
        spark, workdir, "triples",
        salted_triples(transe.score_and_rank(spark, tuples, te)), resume,
        partition_cols=["bucket"])
    _mark("rank_triples")

    # entity canonicalization map: entity key → frequency + a surface, with
    # a stable shuffle-free entity_id (xxhash64 of the key — computable on
    # any executor; a 64-bit space makes collisions negligible at 10^9
    # entities). The key was made by the extraction kernel
    # (tuples.entity_key), the same call that made the triples' endpoints.
    entities = checkpoint(
        spark, workdir, "entities",
        extraction.filter(F.col("kind") == "m").groupBy("entity").agg(
            F.count(F.lit(1)).alias("freq"),
            F.min("text").alias("surface"),
        ).withColumn("entity_id", F.xxhash64("entity")),
        resume)

    # graph edges (north_star: "triples, entity-canonicalization maps, and
    # graph edges"): every triple endpoint is the key of a mention of the
    # same kernel call, so its id is xxhash64 of the endpoint itself and
    # equals its entity's entity_id — the edges are a projection of the
    # triples re-read. Each triples file sits in one bucket directory, so
    # every task writes only the buckets it read: no join, no shuffle.
    edges = checkpoint(
        spark, workdir, "edges",
        triples.select(
            F.xxhash64("subj").alias("subj_id"),
            F.xxhash64("obj").alias("obj_id"),
            "subj", "pred", "obj", "score", "rank", "doc_id", "sent_id",
            "url", "bucket"),
        resume, partition_cols=["bucket"])
    _mark("entities_edges")

    return {
        "timings": timings,
        "sentences": sentences, "patterns": patterns_df,
        "mentions": mentions, "tuples": tuples, "triples": triples,
        "entities": entities, "edges": edges,
        "kg_embeddings": kg_embeddings,
    }
