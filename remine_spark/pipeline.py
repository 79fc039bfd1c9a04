"""End-to-end pipeline with checkpointed, resumable stage boundaries.

north_rule requirements implemented here:
- every stage boundary is a parquet checkpoint (Iceberg-ready: swap
  ``.parquet(path)`` for ``.format("iceberg").saveAsTable`` — the layout,
  bucketing and lineage logic are format-agnostic);
- resume: ``run_pipeline`` skips any stage whose checkpoint already exists
  (kill it after stage k, relaunch, it picks up at k+1 — tested);
- per-partition lineage + metrics rows are appended to ``<workdir>/lineage``
  for every materialized stage;
- the triples sink is salted by subj-hash (``pmod(xxhash64(subj), n)``) to
  defuse head-entity skew before the final shuffle/write.

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

# Salted-sink bucket count. The salt exists to defuse head-entity skew at
# the final shuffle/write; its COUNT should track the write parallelism,
# not a constant: r2's fixed 64 buckets made the two partitioned sinks a
# ~19 s fan-in floor at local[32] (and measured catastrophically at 128
# dirs: dynamic-partition commit cost is per-directory). Default:
# parallelism/2 bounded to [8, 4096] — single-digit file counts on a
# laptop, ~4k on a 1000-executor cluster; override with
# REMINE_TRIPLE_BUCKETS.
TRIPLE_BUCKETS = int(os.environ.get("REMINE_TRIPLE_BUCKETS", "0"))


def _n_buckets(spark: SparkSession) -> int:
    if TRIPLE_BUCKETS > 0:
        return TRIPLE_BUCKETS
    return min(4096, max(8, spark.sparkContext.defaultParallelism // 2))


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
        reader = spark.read.format(TABLE_FORMAT)
        if schema is not None:
            reader = reader.schema(schema)  # empty checkpoint: no footers
        counts = (reader.load(path)
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
    count of every python stage downstream) is governed by
    spark.sql.files.maxPartitionBytes — the session factory sizes it so
    local checkpoints split across all cores; a real cluster's inputs are
    thousands of partitions regardless. No repartition here: a shuffle in
    the re-read plan would be re-paid by every downstream pass.

    ``schema`` makes empty checkpoints readable (a degenerate stage writes
    only _SUCCESS; schema inference would fail)."""
    reader = spark.read.format(TABLE_FORMAT)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


# Stage-table format seam: parquet here; set SPARK_GRAFT_TABLE_FORMAT=iceberg
# (with the iceberg-spark runtime jar + a catalog on the cluster) and every
# checkpoint becomes an Iceberg table append/replace with the same layout,
# bucketing and lineage logic — nothing else in the pipeline changes.
TABLE_FORMAT = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")


def checkpoint(spark: SparkSession, workdir: str, stage: str, df: DataFrame,
               resume: bool = True, partition_cols: list[str] | None = None
               ) -> DataFrame:
    """Write-or-reuse a stage checkpoint; returns the re-read DataFrame (so
    downstream plans cut lineage at the materialized table)."""
    path = os.path.join(workdir, stage)
    if not (resume and _exists(path)):
        t0 = time.time()
        writer = df.write.mode("overwrite").format(TABLE_FORMAT)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.save(path)
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
    input: stale-workdir resume silently yields triples for a corpus the
    caller never passed (observed in practice with a shared /tmp workdir).
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
        if blob.get("fingerprint") != fp:
            raise ValueError(
                f"workdir {workdir!r} holds checkpoints for different input "
                f"(fingerprint {blob.get('fingerprint')!r} != {fp!r}, "
                f"{blob.get('n_files')} vs {len(files)} input files). "
                "Use a fresh --workdir or pass resume=False/--no-resume to "
                "recompute.")
    fsio.write_text_atomic(marker, json.dumps(
        {"fingerprint": fp, "n_files": len(files)}))


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
    n_buckets = _n_buckets(spark)
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

    # 2. patterns (A1/A2 + M14 chunk boost + M3/M5 quality)
    pat_path = os.path.join(workdir, "patterns")
    if resume and _exists(pat_path):
        # resume hit: derive the checkpoint schema from the (never
        # executed) plan and read — skipping the eager survivor persist
        # and feature passes that used to run even when their result was
        # discarded. Both quality sources emit the same net schema: the
        # raw pattern columns + (indicator, quality).
        from pyspark.sql import types as T

        raw_schema = mining.mine_patterns_boosted(
            sentences, min_sup, max_len, eager=False).schema
        pat_schema = T.StructType(
            list(raw_schema.fields)
            + [T.StructField("indicator", T.StringType()),
               T.StructField("quality", T.DoubleType())])
        patterns_df = _read_wide(spark, pat_path, schema=pat_schema)
        # a pre-is_boost checkpoint re-read with the current schema yields
        # the column present but NULL (parquet fills missing columns with
        # null); external-pattern semantics default to "not a boost row"
        # (mirrors the entity_id coalesce below)
        patterns_df = patterns_df.withColumn(
            "is_boost", F.coalesce(F.col("is_boost"), F.lit(False)))
    else:
        stage_caches: list[DataFrame] = []
        raw_patterns = mining.mine_patterns_boosted(
            sentences, min_sup, max_len, _persisted=stage_caches)
        if quality_pools is not None:
            from remine_spark import classifier

            # ONE corpus-context feature pass (occurrence explode +
            # semi-join + outside-idf window) shared by the forest fit AND
            # the scoring pass — each used to featurize independently,
            # doubling the dominant cost of this stage
            cfeats = classifier.corpus_features(
                raw_patterns, sentences, max_len)
            stage_caches.append(cfeats)
            feats = classifier.featurize(raw_patterns, corpus_feats=cfeats)
            rf, asm = classifier.fit_quality_forest(
                raw_patterns, quality_pools[0], quality_pools[1],
                prefeaturized=feats)
            scored_patterns = classifier.assign_quality_ml(
                raw_patterns, rf, asm, prefeaturized=feats)
        else:
            scored_patterns = model_mod.assign_quality(raw_patterns)
        patterns_df = checkpoint(
            spark, workdir, "patterns", scored_patterns, resume)
        # the checkpoint has materialized everything derived from the
        # mined survivors and the corpus feature table — release their
        # block-manager storage (they otherwise accumulate across runs in
        # one session)
        for df in stage_caches:
            df.unpersist()
    _mark("patterns")

    # 3. ReMine-Local fit (A6/A7/A8 + M9)
    # The fit + mention/tuple stages make ~6 full passes over sentences.
    # They deliberately re-scan the parquet checkpoint rather than a Spark
    # cache: parquet→Arrow is columnar→columnar (fast into pandas UDFs),
    # while a row-format cache pays row→Arrow conversion on every pass —
    # measured slower. Scan width is file-per-partition via the session's
    # openCostInBytes (checkpoint files = 2×cores by construction).
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
            # one trie broadcast per outer iteration (the inner loop only
            # re-estimates deps_prob; see SegModel.payload_static)
            bc_static = spark.sparkContext.broadcast(m.payload_static())
            try:
                model_mod.adjust_constraints(spark, sentences, m,
                                             inner_iters=inner_iters,
                                             bc_static=bc_static)
                m = model_mod.rectify_frequency(spark, sentences, m,
                                                bc_static=bc_static)
            finally:
                bc_static.destroy()
            save_model(workdir, m, "segmodel_partial.json", outer_done=it + 1)
        save_model(workdir, m)
    _mark("em_fit")

    bc = spark.sparkContext.broadcast(m.payload())

    # 4. mentions (entity map input) + tuples (M10/M11) — one fused
    # extraction pass (a single Viterbi segmentation per sentence feeds
    # both tables), checkpointed as a kind-partitioned union so each
    # table's re-read prunes to its own files
    extraction = checkpoint(
        spark, workdir, "extraction",
        tuples_mod.extraction_df(sentences, bc), resume,
        partition_cols=["kind"])
    mentions = extraction.filter(F.col("kind") == "m").select(
        "url", "doc_id", "sent_id", "start", "end", "text")
    tuples = extraction.filter(F.col("kind") == "t").select(
        "url", "doc_id", "sent_id", "subj", "pred", "obj", "rels",
        "subj_start", "subj_end", "obj_start", "obj_end")
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
    ranked = transe.score_and_rank(spark, tuples, te)
    triples = ranked.select(
        "url", "doc_id", "sent_id", "subj", "pred", "obj", "score", "rank",
        F.pmod(F.xxhash64("subj"), F.lit(n_buckets)).alias("bucket"),
    ).repartition(n_buckets, F.col("bucket"))  # one file per bucket
    triples = checkpoint(spark, workdir, "triples", triples, resume,
                         partition_cols=["bucket"])
    _mark("rank_triples")

    # entity canonicalization map: mention surface → canonical form, with a
    # stable shuffle-free entity_id (xxhash64 of the canonical form —
    # computable on any executor; a 64-bit space makes collisions
    # negligible at 10^9 entities, and an id table join stays available if
    # exact density is ever required)
    entities = checkpoint(
        spark, workdir, "entities",
        mentions.select(
            F.lower(F.regexp_replace("text", " ", "_")).alias("entity"),
            "text", "url", "doc_id", "sent_id", "start", "end",
        ).groupBy("entity").agg(
            F.count(F.lit(1)).alias("freq"),
            F.min("text").alias("surface"),
        ).withColumn("entity_id", F.xxhash64("entity")),
        resume)

    # entity linking + graph edges (north_star: "triples,
    # entity-canonicalization maps, and graph edges"): triples' endpoint
    # surfaces resolve to canonical entity ids via broadcast joins (the
    # entity map is the small side; at extreme entity cardinality switch to
    # a bucketed sort-merge join on `entity`), salted on subj_id
    # A pre-entity_id checkpoint re-read with the current schema yields the
    # column present but NULL in every row (checkpoint() reads with
    # schema=df.schema, so a column-presence check can never fire); the id
    # is a pure function of the canonical form, so deriving it on read is
    # identical either way.
    entities = entities.withColumn(
        "entity_id", F.coalesce(F.col("entity_id"), F.xxhash64("entity")))
    ent_ids = entities.select("entity", "entity_id")
    subj_ids = ent_ids.select(F.col("entity").alias("subj"),
                              F.col("entity_id").alias("subj_id"))
    obj_ids = ent_ids.select(F.col("entity").alias("obj"),
                             F.col("entity_id").alias("obj_id"))
    edges = (
        triples.join(F.broadcast(subj_ids), "subj", "left")
        .join(F.broadcast(obj_ids), "obj", "left")
        .select(
            "subj_id", "obj_id", "subj", "pred", "obj", "score", "rank",
            "doc_id", "sent_id", "url",
            F.pmod(F.coalesce("subj_id", F.lit(0)),
                   F.lit(n_buckets)).alias("bucket"))
        .repartition(n_buckets, F.col("bucket"))
    )
    edges = checkpoint(spark, workdir, "edges", edges, resume,
                       partition_cols=["bucket"])
    _mark("entities_edges")

    return {
        "timings": timings,
        "sentences": sentences, "patterns": patterns_df,
        "mentions": mentions, "tuples": tuples, "triples": triples,
        "entities": entities, "edges": edges,
        "kg_embeddings": kg_embeddings,
    }
