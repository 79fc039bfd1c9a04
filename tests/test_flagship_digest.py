"""The flagship KG output is pinned: ``run_pipeline`` on a fixed synthetic
corpus must give the same triples, entities and edges, value for value,
whatever the input partitioning (and so whatever the scan split of every
checkpoint re-read downstream). The EM counts and TransE gradients are exact sums, so
no reduction order may show in the digest."""

import hashlib

import pytest

from remine_spark import pipeline, synth

N_DOCS = 250

# sha256 over the sorted triples and entities below. Recorded with the
# session factory that split checkpoint re-reads one task per file; the
# byte-packed re-reads of Spark's default split sizing give the same.
PINNED = "67ace58af68358d6c28e79e18da586eca48a290eec8fc68d454a61573f11c477"

# sha256 over the sorted edges below, recorded at 3 and 17 partitions
# while the entities re-read still coalesced a NULL entity_id: edge ids
# must not move when that read-side patch is gone.
PINNED_EDGES = (
    "f5166955a86d0c8741fb7d189db86c0f19a5c0b4ed5e48758213da4b9624eb42")


def _sha(tables) -> str:
    h = hashlib.sha256()
    for table in tables:
        for row in table:
            h.update("\x1f".join(map(str, row)).encode())
            h.update(b"\x1e")
        h.update(b"\x1d")
    return h.hexdigest()


def _digest(out) -> tuple[str, int, int]:
    triples = sorted(
        (r.url, r.sent_id, r.subj, r.pred, r.obj, repr(float(r.score)),
         r.rank)
        for r in out["triples"].select(
            "url", "sent_id", "subj", "pred", "obj", "score", "rank")
        .collect())
    entities = sorted(
        (r.entity, r.freq, r.surface, r.entity_id)
        for r in out["entities"].select(
            "entity", "freq", "surface", "entity_id").collect())
    return _sha([triples, entities]), len(triples), len(entities)


def _edges_digest(out) -> tuple[str, int]:
    edges = sorted(
        (r.subj_id, r.obj_id, r.subj, r.pred, r.obj, repr(float(r.score)),
         r.rank, r.doc_id, r.sent_id, r.url)
        for r in out["edges"].select(
            "subj_id", "obj_id", "subj", "pred", "obj", "score", "rank",
            "doc_id", "sent_id", "url").collect())
    return _sha([edges]), len(edges)


@pytest.mark.parametrize("n_parts", [3, 17])
def test_flagship_digest_pinned(spark, tmp_path, n_parts):
    pages = synth.pages_df(spark, N_DOCS, seed=42, num_partitions=n_parts)
    out = pipeline.run_pipeline(spark, pages, str(tmp_path), inner_iters=2,
                                transe_epochs=3, resume=False)
    digest, n_triples, n_entities = _digest(out)
    assert (n_triples, n_entities) == (1295, 63)
    assert digest == PINNED
    assert _edges_digest(out) == (PINNED_EDGES, 1295)
