"""Structured Streaming layer tests: incremental ingest exactly-once, the
incremental KG update against the batch run, epoch replay, and streaming
dedup."""

import glob
import os
import shutil
import tempfile

import pytest

from remine_spark import synth
from remine_spark.corpus import sentences_from_pages
from remine_spark.streaming import ingest


@pytest.fixture()
def tmpdirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    yield d
    shutil.rmtree(tmp_path, ignore_errors=True)


def _write_pages(spark, path, n, seed):
    synth.pages_df(spark, n, seed=seed, num_partitions=2).write.mode(
        "append").parquet(path)


def test_incremental_ingest_exactly_once(spark, tmpdirs):
    """New files are processed exactly once per run_ingest invocation;
    already-seen files are skipped on relaunch (checkpoint bookkeeping)."""
    _write_pages(spark, tmpdirs["in"], 30, seed=1)
    ingest.run_ingest(spark, tmpdirs["in"], tmpdirs["out"], tmpdirs["ckpt"])
    first = spark.read.parquet(tmpdirs["out"]).count()
    assert first > 0

    # batch equivalence: streaming output == batch stage on the same input
    batch = sentences_from_pages(
        spark.read.parquet(tmpdirs["in"])).count()
    assert first == batch

    # second drop of files: only the delta is appended
    _write_pages(spark, tmpdirs["in"], 20, seed=2)
    ingest.run_ingest(spark, tmpdirs["in"], tmpdirs["out"], tmpdirs["ckpt"])
    total = spark.read.parquet(tmpdirs["out"]).count()
    batch_total = sentences_from_pages(
        spark.read.parquet(tmpdirs["in"])).count()
    assert total == batch_total > first

    # idempotent relaunch with no new files
    ingest.run_ingest(spark, tmpdirs["in"], tmpdirs["out"], tmpdirs["ckpt"])
    assert spark.read.parquet(tmpdirs["out"]).count() == total


def test_incremental_kg_update(spark, tmpdirs, tmp_path):
    """Batch-trained model + streaming foreachBatch: pages streamed through
    the frozen model yield exactly the batch run's tuples over the same
    pages (one extraction kernel serves both paths), and a relaunch with no
    new files appends nothing."""
    from remine_spark import pipeline
    from remine_spark.streaming import kg_update

    # 1. batch run trains + saves the model
    wd = str(tmp_path / "batch_wd")
    train_pages = synth.pages_df(spark, 120, seed=21, num_partitions=3)
    batch = pipeline.run_pipeline(spark, train_pages, wd, inner_iters=2,
                                  transe_epochs=2, resume=False)

    # 2. the first 40 training pages arrive as files; stream them through
    # the frozen model
    new_pages = synth.pages_df(spark, 40, seed=21, num_partitions=2)
    new_pages.write.mode("append").parquet(tmpdirs["in"])
    kg_update.run_incremental_kg(
        spark, tmpdirs["in"], tmpdirs["out"], tmpdirs["ckpt"], wd)
    got = spark.read.parquet(tmpdirs["out"])
    assert {"subj", "pred", "obj", "bucket", "epoch_id"} <= set(got.columns)
    cols = ["url", "sent_id", "subj", "pred", "obj"]
    streamed = sorted(tuple(r) for r in got.select(*cols).collect())
    urls = {r.url for r in new_pages.select("url").collect()}
    want = sorted(tuple(r) for r in batch["tuples"].select(*cols).collect()
                  if r.url in urls)
    assert streamed, "the slice streamed no tuples"
    assert streamed == want
    # the stream salts with the batch sink's rule: same bucket per subject
    from pyspark.sql import functions as F

    want_bucket = F.pmod(F.xxhash64("subj"),
                         F.lit(pipeline._n_buckets(spark)))
    assert got.filter(F.col("bucket") != want_bucket).count() == 0

    # 3. relaunch with no new files → nothing appended
    kg_update.run_incremental_kg(
        spark, tmpdirs["in"], tmpdirs["out"], tmpdirs["ckpt"], wd)
    assert spark.read.parquet(tmpdirs["out"]).count() == len(streamed)


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """ADVICE r1: a replayed micro-batch (crash between write and streaming
    checkpoint commit) must REPLACE its epoch partition, not append dups."""
    from remine_spark.streaming import kg_update

    out_dir = str(tmp_path / "triples")
    df = spark.createDataFrame(
        [("u1", "a", "r", "b", 0, 0), ("u2", "c", "r", "d", 1, 0)],
        "url string, subj string, pred string, obj string, bucket int, "
        "epoch_id long")
    kg_update.write_epoch(df, out_dir)
    n1 = spark.read.parquet(out_dir).count()
    # replay the SAME epoch → replaced, not duplicated
    kg_update.write_epoch(df, out_dir)
    assert spark.read.parquet(out_dir).count() == n1
    # a NEW epoch appends without touching epoch 0
    df2 = df.withColumn("epoch_id", df.epoch_id + 1)
    kg_update.write_epoch(df2, out_dir)
    got = spark.read.parquet(out_dir)
    assert got.count() == n1 * 2
    assert got.filter("epoch_id = 0").count() == n1


def test_streaming_kg_update_catalog_entry(spark):
    """VERDICT r4 item 5: the streaming seam is registered under the
    driver's correctness gate (rows-only). The catalog callable must be
    self-contained — train/reuse the flagship model, stream a fixed page
    slice through the frozen model, return a stable scalar-column frame."""
    import __spark_entry__ as entry

    fn = entry.queries()["streaming_kg_update"]
    df = fn(spark, "/root/testdata/sf0.001")
    assert df.schema.simpleString() == (
        "struct<url:string,doc_id:bigint,sent_id:int,subj:string,"
        "pred:string,obj:string,epoch_id:int>")
    assert df.count() > 0
    # rows-only by design: a foreachBatch stream has no DuckDB oracle
    assert "streaming_kg_update" not in entry.oracle_sql()


def test_streaming_entries_reuse_their_temp_dir(spark):
    """The streaming catalog entries of ``__spark_entry__`` each keep one
    fixed temp directory, emptied per call, instead of leaking a fresh
    one per call."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name, prefix in (("streaming_kg_update", "remine_stream_entry"),
                         ("streaming_dedup", "remine_sdedup")):
        pattern = os.path.join(tempfile.gettempdir(), prefix + "*")
        counts = []
        for _ in range(2):
            assert qs[name](spark, "/root/testdata/sf0.001").count() > 0
            counts.append(len(glob.glob(pattern)))
        assert counts[0] == counts[1] > 0, (name, counts)


def test_entry_temp_dir_removes_older_layouts(tmp_path, monkeypatch):
    """An entry's temp dir of an older layout is removed when the current
    one is named; other kinds and scale factors keep theirs."""
    import __spark_entry__ as entry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = ["remine_entry_v5_sf0.001", "remine_entry_layout5_sf0.001"]
    kept = ["remine_stream_entry_layout5_sf0.001", "remine_sdedup_v5_sf0.001",
            "remine_entry_layout5_sf0.01"]
    for name in stale + kept:
        (tmp_path / name / "triples").mkdir(parents=True)
    current = entry._tmp_dir("entry", "/data/sf0.001")
    os.makedirs(current)
    assert entry._tmp_dir("entry", "/data/sf0.001/") == current
    assert sorted(os.listdir(tmp_path)) == sorted(
        kept + [os.path.basename(current)])


def test_dedup_stream_first_arrival_wins_across_runs(spark, tmpdirs):
    """Streaming exact dedup: one row per distinct content fingerprint,
    with the seen-set carried across separate availableNow runs through
    the streaming checkpoint — a re-crawl of already-seen pages adds
    nothing."""
    from pyspark.sql import functions as F

    from remine_spark.streaming import dedup_stream

    _write_pages(spark, tmpdirs["in"], 30, seed=1)
    dedup_stream.run_dedup_stream(
        spark, tmpdirs["in"], tmpdirs["out"], tmpdirs["ckpt"])
    first = spark.read.parquet(tmpdirs["out"])
    n_first = first.count()
    assert n_first == first.select("fp").distinct().count() > 0

    # re-crawl: the exact same 30 pages again, plus 20 genuinely new ones
    _write_pages(spark, tmpdirs["in"], 30, seed=1)
    _write_pages(spark, tmpdirs["in"], 20, seed=2)
    dedup_stream.run_dedup_stream(
        spark, tmpdirs["in"], tmpdirs["out"], tmpdirs["ckpt"])
    out = spark.read.parquet(tmpdirs["out"])
    batch_distinct = (
        spark.read.parquet(tmpdirs["in"])
        .select(F.md5(F.coalesce("text", F.lit(""))).alias("fp"))
        .distinct().count())
    # every distinct text exactly once, none of the re-crawl re-emitted
    assert out.count() == out.select("fp").distinct().count() == batch_distinct
    assert out.count() > n_first

    # watermark-bounded variant: all events inside the horizon → same set
    wm_out, wm_ckpt = tmpdirs["out"] + "_wm", tmpdirs["ckpt"] + "_wm"
    dedup_stream.run_dedup_stream(
        spark, tmpdirs["in"], wm_out, wm_ckpt, within="365 days")
    wm = spark.read.parquet(wm_out)
    assert wm.select("fp").distinct().count() == batch_distinct
