"""Stage 1: pages → extracted text → tokenized/tagged/parsed sentences.

Spark-first design: the page table is scanned once (columns pruned to what
the stage needs), language filtering is a Catalyst predicate pushed to the
parquet/Iceberg scan, and html extraction, tagging and parsing run in one
Arrow-batched ``mapInPandas`` pass (one Python stage, text never returns
to the JVM).

Reference analog: ``preprocessing.py:81-116`` (corpus load) +
``documents.h:149-316`` (columnar token arrays) + ``documents.h:318-358``
(sentence split). Here a sentence is one DataFrame row with aligned array
columns — the same struct-of-arrays layout, transposed onto Spark rows.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import nlp

_P_RE = re.compile(rb"<p>(.*?)</p>", re.S)
_TAG_RE = re.compile(r"<[^>]+>")


def extract_text(html: bytes) -> str:
    """Deterministic html→text extractor (frozen contract).

    Joins the contents of top-level ``<p>`` blocks with ``\\n``; if a page has
    no ``<p>`` blocks, strips all tags and collapses whitespace. Byte-identical
    per url across runs/partitions — the input_hint invariant the reference's
    extractor also guarantees; verified in tests/test_corpus.py.
    """
    if html is None:
        return ""
    paras = _P_RE.findall(html)
    if paras:
        return "\n".join(p.decode("utf-8", "replace") for p in paras)
    text = _TAG_RE.sub(" ", html.decode("utf-8", "replace"))
    return " ".join(text.split())


def doc_id_of(url: str) -> int:
    """Stable 63-bit doc id from the url (computable anywhere, no shuffle —
    unlike monotonically_increasing_id this is partitioning-independent)."""
    return int.from_bytes(hashlib.md5(url.encode()).digest()[:8], "big") >> 1


SENTENCES_SCHEMA = (
    "url string, doc_id long, sent_id int, tokens array<string>, "
    "pos array<string>, dep_head array<int>, dep_type array<string>, "
    "case_mask array<int>, chunk_a array<int>, chunk_b array<int>"
)


def _analyze_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in
               ("url", "doc_id", "sent_id", "tokens", "pos", "dep_head",
                "dep_type", "case_mask", "chunk_a", "chunk_b")}
        for url, html in zip(pdf["url"], pdf["html"]):
            did = doc_id_of(url)
            for sid, rec in enumerate(nlp.analyze(extract_text(html))):
                out["url"].append(url)
                out["doc_id"].append(did)
                out["sent_id"].append(sid)
                out["tokens"].append(rec["tokens"])
                out["pos"].append(rec["pos"])
                out["dep_head"].append(rec["dep_head"])
                out["dep_type"].append(rec["dep_type"])
                out["case_mask"].append(rec["case_mask"])
                # M14 boost chunk spans ride the SAME python pass (the
                # chunker reads only the tags just computed) — computing
                # them here removes a second full python corpus scan from
                # the patterns stage (mining.boost_patterns consumes these
                # columns JVM-side when present)
                spans = nlp.boost_chunk_spans(rec["pos"])
                out["chunk_a"].append([a for (a, _b) in spans])
                out["chunk_b"].append([b for (_a, b) in spans])
        if not out["url"]:
            continue  # empty batch: Arrow can't infer list<> from empty object cols
        yield pd.DataFrame(
            {k: pd.Series(v, dtype=object) for k, v in out.items()}
        )


def sentences_from_pages(pages: DataFrame, lang: str = "en") -> DataFrame:
    """pages → sentences(url, doc_id, sent_id, tokens, pos, dep_head, dep_type, case_mask).

    The lang filter is a plain predicate (pushed into the scan); only
    (url, html) survive column pruning. Extraction + tagging + parsing
    happen in one Arrow pass, so the extracted text never crosses back to
    the JVM.
    """
    src = pages.filter(F.col("lang") == lang).select("url", "html")
    return src.mapInPandas(_analyze_batches, schema=SENTENCES_SCHEMA)
