"""Incremental KG construction: new page files → frozen-model segmentation
→ dep-path tuples → triples appended, exactly once per file.

This is the Structured-Streaming seam SURVEY §2.9 identifies: the batch
pipeline trains the segmentation model (EM needs global corpus statistics,
so it stays batch); the stream then applies the FROZEN model to newly
arriving pages via ``foreachBatch``, running the batch pipeline's own
corpus stage and extraction kernel (``tuples.extraction_df``, tuple rows
kept) on each micro-batch and appending to the triples table, salted by
the batch sink's own rule (``pipeline.salted_triples``) — so a streamed
page yields exactly the tuples a batch run over it would, in the same
bucket.

Exactly-once: the file source tracks processed files in the streaming
checkpoint; the sink is partitioned by epoch_id and each micro-batch
dynamically overwrites its own epoch partition, so a replayed epoch
(crash between write and checkpoint commit) replaces rather than
duplicates its output (Iceberg commit-per-epoch is the transactional
equivalent — identical code seam).

Scale notes: each micro-batch is bounded (maxFilesPerTrigger); the model
broadcast is shipped once per process, not per batch; scoring reuses the
batch TransE model the same frozen way. State never accumulates — this is
a stateless enrich, so the stream runs forever without compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from remine_spark import pipeline, transe, tuples as tuples_mod
from remine_spark.corpus import sentences_from_pages
from remine_spark.streaming.ingest import stream_pages


def write_epoch(out: DataFrame, out_dir: str) -> None:
    """Idempotent micro-batch sink: the table is partitioned by epoch_id
    and each batch dynamically OVERWRITES exactly its own epoch partition
    — if the job dies between this write and the streaming checkpoint
    commit, the replayed epoch replaces its output instead of appending
    duplicates. (Iceberg's commit-per-epoch is the transactional
    equivalent; same seam.)"""
    (out.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("epoch_id", "bucket").parquet(out_dir))


def run_incremental_kg(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str,
    model_workdir: str, transe_model=None, lang: str = "en",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain new page files into the triples sink using the model trained
    by a previous batch run at ``model_workdir`` (pipeline.save_model)."""
    m = pipeline.load_model(model_workdir)
    if m is None:
        raise FileNotFoundError(
            f"no segmentation model at {model_workdir}; run the batch "
            "pipeline first (the EM fit needs global corpus statistics)")
    bc = spark.sparkContext.broadcast(m.payload())

    def process_batch(pages_batch: DataFrame, epoch_id: int) -> None:
        sentences = sentences_from_pages(pages_batch, lang=lang)
        tuples = tuples_mod.tuple_rows(
            tuples_mod.extraction_df(sentences, bc))
        if transe_model is not None:
            ranked = transe.score_and_rank(spark, tuples, transe_model)
        else:
            ranked = (tuples.withColumn("score", F.lit(None).cast("double"))
                      .withColumn("rank", F.lit(None).cast("int")))
        write_epoch(pipeline.salted_triples(ranked)
                    .withColumn("epoch_id", F.lit(epoch_id)), out_dir)

    pages = stream_pages(spark, input_dir,
                         max_files_per_trigger=max_files_per_trigger)
    q = (
        pages.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
