"""Structured Streaming layer: incremental page ingest through the same
extract→tokenize→parse stage the batch pipeline uses, exact content dedup
across runs, and the incremental KG update that drains new pages through
the batch-trained model and the batch extraction kernel.

The reference is pure batch (SURVEY §2.9); this is the incremental-ingest
seam it lacks: new page files land in a directory (or Iceberg snapshots at
scale), and the stream re-runs the corpus stage exactly once per file, with
exactly-once bookkeeping in the streaming checkpoint."""

from remine_spark.streaming import (  # noqa: F401
    dedup_stream,
    ingest,
)
