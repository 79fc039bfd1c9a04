"""S7 segmented-corpus sink: model.segment_sentences emits the full
per-sentence span table (the reference's segmented-corpus output,
segmentation.h writeSegmentedCorpus shape) and agrees with the compact
_em_pass statistics kernel on what Viterbi chose."""

from pyspark.sql import functions as F

from remine_spark import model as model_mod, pipeline, synth
from remine_spark.corpus import sentences_from_pages


def test_segment_sentences_spans_and_em_pass_agree(spark, tmp_path):
    pages = synth.pages_df(spark, 100, seed=11, num_partitions=3)
    out = pipeline.run_pipeline(spark, pages, str(tmp_path / "wd"),
                                inner_iters=2, transe_epochs=2, resume=False)
    m = pipeline.load_model(str(tmp_path / "wd"))
    sentences = out["sentences"]
    bc = spark.sparkContext.broadcast(m.payload())

    seg = model_mod.segment_sentences(sentences, bc).cache()
    rows = seg.collect()
    assert rows
    n_sent = sentences.count()
    assert len(rows) == n_sent  # one row per sentence (full sink)
    for r in rows[:50]:
        spans = [(s.start, s.end) for s in r.segments]
        # spans are ordered, non-overlapping, within the sentence
        assert all(a < b for a, b in spans)
        assert all(spans[i][1] <= spans[i + 1][0]
                   for i in range(len(spans) - 1))

    # the compact EM kernel counts exactly the spans the full sink shows
    chosen_full = (
        seg.select(F.explode("segments").alias("s"))
        .filter(F.col("s.pattern_id") >= 0)
        .groupBy(F.col("s.pattern_id").alias("pid"))
        .agg(F.count(F.lit(1)).alias("cnt")).collect())
    want = {int(r.pid): int(r.cnt) for r in chosen_full}
    _sig, got, _e = model_mod._em_stats(sentences, m, bc)
    assert got == want
