"""Semantics tests for the two cluster/repetition operators:

- dedup_cluster_resolve: the distributed hash-min component resolution must
  equal a brute-force union-find over the same verified pair set, and the
  keep-list invariants must hold (one survivor per cluster, survivor = min
  doc_id, every member maps to a cluster member).
- hash_min_components: direct check on a handcrafted multi-component graph
  (path + triangle + isolated edge) including a high-diameter chain that
  needs several propagation rounds.
- rep_ngram_dup_frac: the in-row sorted-neighbour duplicate count must equal
  the obvious Counter-based per-doc computation.
- host_doc_stats: a NULL-text document counts as zero tokens on both Spark
  and the DuckDB oracle.
- quality_gopher_filter: a document under 3 tokens is emitted rejected (every
  flag 0) on both Spark and the DuckDB oracle.
"""

import collections

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from remine_spark import catalog
from remine_spark.operators import dedup, graph, textstats

SF_DIR = "/root/testdata/sf0.01"


def test_hash_min_components_handcrafted(spark):
    # chain 1-2-3-4-5 (diameter 4: several rounds), triangle 10-11-12,
    # isolated edge 20-21
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12),
             (20, 21)]
    und = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "a long, b long")
    got = {r["node"]: r["comp"]
           for r in graph.hash_min_components(und).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_hash_min_components_empty_graph(spark):
    # a corpus with no verified near-dup pairs must resolve to an empty
    # cluster table, not crash the contraction loop
    und = spark.createDataFrame([], "a long, b long")
    assert graph.hash_min_components(und).count() == 0


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress to the final roots
    return {x: find(x) for x in parent}


def test_cluster_resolve_matches_union_find(spark):
    # the resolve's pair basis: Jaccard-verified bucket adjacency chains
    pairs = [(r["doc_a"], r["doc_b"]) for r in
             dedup._jaccard_verify(
                 dedup._shingles_df(spark, SF_DIR),
                 dedup.chain_pairs_df(dedup._bands_df(spark, SF_DIR)))
             .select("doc_a", "doc_b").collect()]
    assert pairs, "fixture corpus must contain verified near-dup pairs"
    expect = _union_find(pairs)

    rows = dedup.dedup_cluster_resolve(spark, SF_DIR).collect()
    got = {r["doc_id"]: r["canonical_id"] for r in rows}
    assert got == expect

    # keep-list invariants: exactly one survivor per cluster and it is the
    # minimum doc_id of that cluster
    clusters = collections.defaultdict(list)
    for r in rows:
        clusters[r["canonical_id"]].append(r)
    for canon, members in clusters.items():
        keeps = [m for m in members if m["is_keep"] == 1]
        assert len(keeps) == 1
        assert keeps[0]["doc_id"] == canon == min(m["doc_id"] for m in members)


def _rep_fracs(text):
    toks = [t for t in text.split(" ") if t]
    if len(toks) < 3:
        return None
    grams = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
    cnt = collections.Counter(grams)
    dup_pos = sum(c for c in cnt.values() if c > 1)
    return (len(toks),
            round(1.0 - len(set(toks)) / len(toks), 6),
            round(dup_pos / len(grams), 6))


def test_rep_ngram_dup_frac_matches_counter(spark):
    docs = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") < 50).collect()}
    rows = {r["doc_id"]: (r["n_tokens"], r["dup_token_frac"],
                          r["dup_3gram_frac"])
            for r in textstats.rep_ngram_dup_frac(spark, SF_DIR)
            .filter(F.col("doc_id") < 50).collect()}
    checked = 0
    for doc_id, text in docs.items():
        expect = _rep_fracs(text)
        if expect is None:
            assert doc_id not in rows
            continue
        assert rows[doc_id] == expect
        checked += 1
    assert checked >= 10
    # the synthetic corpus's tiny vocabulary must actually exercise the
    # duplicated-3-gram branch somewhere
    assert any(v[2] > 0 for v in rows.values())


def test_quality_gopher_filter_matches_python(spark):
    t = textstats
    docs = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") < 80).collect()}
    rows = {r["doc_id"]: r.asDict() for r in
            t.quality_gopher_filter(spark, SF_DIR)
            .filter(F.col("doc_id") < 80).collect()}
    seen_fail = {k: False for k in ("ok_len", "ok_stop", "ok_rep")}
    for doc_id, text in docs.items():
        toks = [x for x in text.split(" ") if x]
        if len(toks) < 3:  # no 3-gram to measure: rejected on every flag
            assert all(v == 0 for k, v in rows[doc_id].items()
                       if k != "doc_id"), doc_id
            continue
        grams = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        cnt = collections.Counter(grams)
        dup3 = sum(c for c in cnt.values() if c > 1) / len(grams)
        expect = {
            "ok_len": int(t.QF_MIN_TOKENS <= len(toks) <= t.QF_MAX_TOKENS),
            "ok_tok_len": int(t.QF_MIN_AVG_TOK_LEN
                              <= len(text.replace(" ", "")) / len(toks)
                              <= t.QF_MAX_AVG_TOK_LEN),
            "ok_stop": int(sum(x in t.QF_STOPWORDS for x in toks) / len(toks)
                           >= t.QF_MIN_STOP_RATIO),
            "ok_rep": int(1 - len(set(toks)) / len(toks)
                          <= t.QF_MAX_DUP_TOK_FRAC
                          and dup3 <= t.QF_MAX_DUP_3GRAM_FRAC),
        }
        expect["passes"] = int(all(expect.values()))
        got = {k: rows[doc_id][k] for k in expect}
        assert got == expect, doc_id
        for k in seen_fail:
            if not expect[k]:
                seen_fail[k] = True
    # thresholds must actually split the fixture corpus on these rules
    assert all(seen_fail.values()), seen_fail


def test_quality_gopher_filter_short_docs_match_oracle(spark, tmp_path):
    # a 2-token and a NULL-text document have no 3-gram: both engines emit
    # them with every flag 0 rather than dropping them
    long = " ".join(["the cat sat on a mat in the house of"] * 2
                    + ["and then some more words"])
    docs = pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": [long, "two words", None],
    })
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    cols = ("ok_len", "ok_tok_len", "ok_stop", "ok_rep", "passes")
    got = {r["doc_id"]: tuple(r[c] for c in cols) for r in
           textstats.quality_gopher_filter(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path / 'documents.parquet'}'")
    cur = con.execute(catalog.QUERIES["quality_gopher_filter"]["sql"])
    names = [c[0] for c in cur.description]
    oracle = {r[names.index("doc_id")]: tuple(r[names.index(c)] for c in cols)
              for r in cur.fetchall()}
    assert got == oracle
    assert got[2] == got[3] == (0, 0, 0, 0, 0)
    assert got[1][0] == 1  # the long doc is measured (25 tokens)


def test_host_doc_stats_null_text_matches_oracle(spark, tmp_path):
    # one NULL-text document: Spark's size(split(NULL)) is -1 and DuckDB's
    # len is NULL, so both engines must coalesce it to zero tokens
    docs = pa.table({
        "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
        "text": ["one two three", None, "four  five", "x y"],
        "lang": ["en", "en", "de", "en"],
        "source": ["a", "a", "a", "b"],
        "n_chars": pa.array([13, 0, 10, 3], pa.int64()),
    })
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    got = {r["source"]: r["avg_tokens"] for r in
           textstats.host_doc_stats(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path / 'documents.parquet'}'")
    cur = con.execute(catalog.QUERIES["host_doc_stats"]["sql"])
    cols = [c[0] for c in cur.description]
    oracle = {r[cols.index("source")]: r[cols.index("avg_tokens")]
              for r in cur.fetchall()}
    assert got == oracle == {"a": round(5 / 3, 4), "b": 2.0}
