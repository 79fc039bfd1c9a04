"""Stage-1 contract tests: byte-identical extraction + sentence alignment."""

from pyspark.sql import functions as F

from remine_spark import corpus, nlp, synth


def test_extract_text_byte_identical_pure():
    docs = synth.generate_docs(300, seed=42)
    for d in docs:
        assert corpus.extract_text(d["html"]) == d["text"], d["url"]


def test_extract_text_deterministic_rerun():
    docs_a = synth.generate_docs(50, seed=42)
    docs_b = synth.generate_docs(50, seed=42)
    assert [d["html"] for d in docs_a] == [d["html"] for d in docs_b]
    assert [d["text"] for d in docs_a] == [d["text"] for d in docs_b]


def test_extract_text_fallback_strips_tags():
    assert corpus.extract_text(b"<div>hello <b>world</b></div>") == "hello world"
    assert corpus.extract_text(None) == ""


def test_sentences_from_pages_match_pure_analyze(spark):
    """The invariant the driver cares about, through the Spark path:
    extraction runs inside the one Arrow pass, and its sentences equal
    the pure-Python analysis of each doc's text, at any partitioning."""
    docs = {d["url"]: d for d in synth.generate_docs(200, seed=42)}
    want = sorted(
        (url, sid, rec["tokens"])
        for url, d in docs.items() if d["lang"] == "en"
        for sid, rec in enumerate(nlp.analyze(d["text"])))
    assert want
    for n in (7, 2):
        pages = synth.pages_df(spark, 200, seed=42, num_partitions=n)
        got = sorted(
            (r.url, r.sent_id, list(r.tokens))
            for r in corpus.sentences_from_pages(pages)
            .select("url", "sent_id", "tokens").collect())
        assert got == want, n


def test_sentences_alignment_and_determinism(spark):
    pages = synth.pages_df(spark, 120, seed=42, num_partitions=5)
    sents = corpus.sentences_from_pages(pages).cache()
    n = sents.count()
    assert n > 100
    # non-en rows filtered
    assert sents.filter(F.col("url").isNull()).count() == 0
    misaligned = sents.filter(
        (F.size("tokens") != F.size("pos"))
        | (F.size("tokens") != F.size("dep_head"))
        | (F.size("tokens") != F.size("dep_type"))
        | (F.size("tokens") != F.size("case_mask"))
    ).count()
    assert misaligned == 0
    # exactly one root per sentence (genSepath.h:72 bails on multi-root)
    multi_root = sents.filter(
        F.size(F.filter("dep_head", lambda h: h == F.lit(0))) != 1
    ).count()
    assert multi_root == 0
    # deterministic doc_id independent of partitioning
    sents2 = corpus.sentences_from_pages(
        synth.pages_df(spark, 120, seed=42, num_partitions=2))
    assert sents2.select("url", "doc_id").distinct().subtract(
        sents.select("url", "doc_id").distinct()).count() == 0
