"""Near-duplicate detection over the ``documents`` table: MinHash+LSH,
exact-Jaccard verification, and SimHash banding.

Exact (hash-groupBy) dedup lives in remine_spark.queries:dedup_exact; the
reference pipeline's analogue of these ops is its pattern-identity rolling
hash (frequent_pattern_mining.h:118-121) — here generalized to the standard
web-scale document-dedup stack.

Portability: both engines compute H32(s) = int(md5(s)[:8 hex], 16) so MinHash
signatures and SimHash bits are bit-identical between Spark and the DuckDB
oracle.

Scale notes (100 TB):
- Signatures are computed scan-side with array expressions (whole-stage
  codegen, no Python); cost is O(tokens × K) per doc with no shuffle.
- The only shuffles are groupBy/join on (band_id, band_signature) — hash
  keys are uniform, so no skew; candidate-pair generation is confined to
  LSH buckets (never a global cross join). A pathological bucket (all-empty
  docs hashing identically) is exact-dup territory — run dedup_exact first,
  and AQE skew-join splitting covers the rest.
- Pair generation is ONE bucket aggregation on the band key
  (operators/banding.py): the scan+signature plan executes once and one
  exchange replaces a self-join's two (a self-join re-runs the whole
  signature subtree on both sides — Catalyst has no cross-side subplan
  reuse). Signatures (16×8B) keep the band rows at ~40 B/doc/band.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

from remine_spark.catalog import h32_duck, h32_spark, query, table
from remine_spark.operators.banding import bucket_pairs
from remine_spark.operators.graph import hash_min_components

N_HASH = 16
N_BANDS = 4
ROWS_PER_BAND = 4
JACCARD_MIN = 0.2
HAMMING_MAX = 6

# --- shared Spark fragments -----------------------------------------------

_TOKS = "filter(split(text, ' '), x -> x != '')"
_SHINGLES = (
    "array_distinct(transform(sequence(1, size(toks)-1), "
    "i -> concat(element_at(toks, i), ' ', element_at(toks, i+1))))"
)
# one md5 per shingle, then a universal-hash family derives the K minhash
# functions arithmetically: h_k(s) = (a_k·H32(s) + b_k) mod p. 16× fewer
# md5 evaluations than hashing (shingle, k) pairs; identical on both
# engines because the arithmetic is integer-exact.
_MERSENNE_P = (1 << 31) - 1
_UH_A = [2 * k + 1 for k in range(1, N_HASH + 1)]          # odd multipliers
_UH_B = [(k * k * 7919 + 104729) % _MERSENNE_P for k in range(N_HASH)]
_HS = f"transform(shingles, s -> {h32_spark('s')})"
_AB_DUCK = "[" + ",".join(
    f"[CAST({a} AS BIGINT), CAST({b} AS BIGINT)]"
    for a, b in zip(_UH_A, _UH_B)) + "]"


@F.pandas_udf(T.ArrayType(T.LongType()))
def _minhash_sig(hs: pd.Series) -> pd.Series:
    """K minhashes from the shingle-hash array, fully vectorized: one
    (K × total_shingles) numpy modular-affine matrix per Arrow batch and a
    segmented min (np.minimum.reduceat) — replaces K interpreted
    higher-order-function passes per document. Integer-exact (products
    < 2^38 « int64), so results are bit-identical to the HOF formulation
    and to the DuckDB oracle."""
    A = np.asarray(_UH_A, dtype=np.int64)[:, None]
    B = np.asarray(_UH_B, dtype=np.int64)[:, None]
    arrs = [np.asarray(a, dtype=np.int64) for a in hs]
    if not arrs:
        return pd.Series([], dtype="object")
    lens = np.array([a.size for a in arrs])
    flat = np.concatenate(arrs)
    m = (A * flat[None, :] + B) % _MERSENNE_P          # (K, total)
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    mins = np.minimum.reduceat(m, offsets, axis=1)      # (K, n_docs)
    return pd.Series(list(mins.T.tolist()))


def _bands_df(spark, sf_dir):
    """documents → (doc_id, band b, band-signature bsig) LSH band rows."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(_TOKS).alias("toks")).filter("size(toks) >= 2")
    sh = toks.select("doc_id", F.expr(_SHINGLES).alias("shingles"))
    # md5-per-shingle stays a JVM codegen expression; the K-hash signature
    # moves to the Arrow-vectorized kernel (bench: the HOF version was the
    # slowest catalog query at sf0.1)
    sig = (
        sh.select("doc_id", F.expr(_HS).alias("hs"))
        .select("doc_id", _minhash_sig(F.col("hs")).alias("sig"))
    )
    return sig.select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, {N_BANDS - 1})")).alias("b"),
        "sig",
    ).select(
        "doc_id", "b",
        F.expr(
            f"concat_ws('_', transform(slice(sig, cast(b*{ROWS_PER_BAND}+1 as int), "
            f"{ROWS_PER_BAND}), x -> cast(x as string)))"
        ).alias("bsig"),
    )


_DUCK_BANDS = f"""
    t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i+1])) AS shingles
           FROM t WHERE len(toks) >= 2),
    hsrc AS (SELECT doc_id,
                    list_transform(shingles, s -> {h32_duck("s")}) AS hs
             FROM sh),
    sig AS (SELECT doc_id,
                   list_transform({_AB_DUCK}, ab -> list_min(
                       list_transform(hs,
                           h -> (ab[1] * h + ab[2]) % {_MERSENNE_P}))) AS sig
            FROM hsrc),
    bands AS (SELECT doc_id, b,
                     CAST(sig[b*{ROWS_PER_BAND}+1] AS VARCHAR) || '_' ||
                     CAST(sig[b*{ROWS_PER_BAND}+2] AS VARCHAR) || '_' ||
                     CAST(sig[b*{ROWS_PER_BAND}+3] AS VARCHAR) || '_' ||
                     CAST(sig[b*{ROWS_PER_BAND}+4] AS VARCHAR) AS bsig
              FROM sig, unnest(range(0, {N_BANDS})) AS u(b))
"""


@query("dedup_minhash_lsh", f"""
    WITH {_DUCK_BANDS}
    SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
    FROM bands a JOIN bands c
      ON a.b = c.b AND a.bsig = c.bsig AND a.doc_id < c.doc_id
""")
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates: word-bigram shingles → 16 minhashes
    → 4 bands × 4 rows → in-bucket pair generation (banding.bucket_pairs:
    one exchange on (b, bsig); a band self-join would run the whole
    scan+md5+signature subtree twice)."""
    bands = _bands_df(spark, sf_dir)
    return (
        bucket_pairs(bands, ["b", "bsig"], "doc_id")
        .select(F.col("pa.i").alias("doc_a"), F.col("pb.i").alias("doc_b"))
        .distinct()
    )


def _shingles_df(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.expr(_TOKS).alias("toks"))
        .filter("size(toks) >= 2")
        .select("doc_id", F.expr(_SHINGLES).alias("shingles"))
    )


def _jaccard_verify(sh, pairs):
    """Exact bigram-shingle Jaccard over a candidate-pair table: melt each
    pair to (pair, side, doc_id), join the shingle table ONCE, and pivot
    the two sides back — joining sh per side would run the
    tokenize+shingle corpus pass twice and shuffle it twice. Returns
    (doc_a, doc_b, jaccard) for pairs at or above JACCARD_MIN."""
    melted = pairs.select(
        "doc_a", "doc_b",
        F.explode(F.expr(
            "array(struct('a' as side, doc_a as doc_id), "
            "struct('b' as side, doc_b as doc_id))")).alias("m"),
    ).select("doc_a", "doc_b", "m.side", "m.doc_id")
    both = (
        melted.join(sh, "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(F.first(F.when(F.col("side") == "a", F.col("shingles")),
                     ignorenulls=True).alias("sha"),
             F.first(F.when(F.col("side") == "b", F.col("shingles")),
                     ignorenulls=True).alias("shb"))
    )
    # filter on the exact ratio and round only the surfaced column, as the
    # oracle SQL does: a ratio just under JACCARD_MIN must not round up
    # into the result
    return (
        both
        .withColumn("j", F.expr(
            "size(array_intersect(sha, shb)) * cast(1.0 as double)"
            " / size(array_union(sha, shb))"))
        .filter(F.col("j") >= JACCARD_MIN)
        .select("doc_a", "doc_b", F.round("j", 4).alias("jaccard"))
    )


@query("dedup_minhash_jaccard", f"""
    WITH {_DUCK_BANDS},
    pairs AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
              FROM bands a JOIN bands c
                ON a.b = c.b AND a.bsig = c.bsig AND a.doc_id < c.doc_id)
    SELECT p.doc_a, p.doc_b,
           round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4)
               AS jaccard
    FROM pairs p JOIN sh sa ON p.doc_a = sa.doc_id
                 JOIN sh sb ON p.doc_b = sb.doc_id
    WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0
          / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
          >= {JACCARD_MIN}
""")
def dedup_minhash_jaccard(spark, sf_dir):
    """LSH candidates verified by exact bigram-shingle Jaccard (the standard
    two-phase near-dup pipeline: cheap candidate gen, exact verify only on
    candidates). Verification joins shingle sets back in — at scale this is
    a sort-merge join on doc_id against the (much smaller) candidate set."""
    return _jaccard_verify(_shingles_df(spark, sf_dir),
                           dedup_minhash_lsh(spark, sf_dir))


def _duck_simhash(nbits: int = 32, hexchars: int = 8) -> str:
    """Width-parameterized SimHash CTE: token hash = first ``hexchars`` hex
    chars of md5 (≤15 ⇒ ≤60 bits, always positive in a signed BIGINT)."""
    return f"""
    tok AS (SELECT doc_id, tok,
                   CAST('0x' || substr(md5(tok),1,{hexchars}) AS BIGINT) AS h
            FROM documents,
                 unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(tok)),
    bits AS (SELECT doc_id, b,
                    CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
                         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bitval
             FROM tok, unnest(range(0, {nbits})) AS u2(b)
             GROUP BY doc_id, b),
    sh AS (SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id)
"""


_DUCK_SIMHASH = _duck_simhash()


def simhash_df(spark, sf_dir, nbits: int = 32, hexchars: int = 8):
    """Width-parameterized SimHash per document (token-multiplicity ±1
    votes per bit). ONE groupBy(doc_id) carries nbits conditional-sum
    buffers (codegen'd hash agg with map-side partial combine), so the
    token rows shuffle once — the earlier bit-explode formulation pushed
    tokens × nbits rows through a (doc_id, bit) shuffle and then a second
    (doc_id) shuffle. Vote sums are integers, so the result is
    bit-identical. At 100 TB the shuffle key (doc_id) is perfectly
    uniform."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.expr(_TOKS)).alias("tok"))
    tok = tok.withColumn(
        "h", F.expr(f"cast(conv(substr(md5(tok),1,{hexchars}),16,10) "
                    "as bigint)"))
    votes = tok.groupBy("doc_id").agg(*[
        F.expr(f"sum(case when (shiftright(h, {b}) & 1) = 1 "
               "then 1 else -1 end)").alias(f"_v{b}")
        for b in range(nbits)])
    fingerprint = " + ".join(
        f"(case when _v{b} > 0 then shiftleft(cast(1 as bigint), {b}) "
        "else cast(0 as bigint) end)"
        for b in range(nbits))
    return votes.select(
        "doc_id", F.expr(fingerprint).cast("bigint").alias("simhash"))


@query("dedup_simhash", f"WITH {_DUCK_SIMHASH} SELECT doc_id, simhash FROM sh")
def dedup_simhash(spark, sf_dir):
    """32-bit SimHash fingerprint table (see :func:`simhash_df`)."""
    return simhash_df(spark, sf_dir, nbits=32, hexchars=8)


# Pair-generation gate: the band key must carry ~log₂(N_docs) bits or
# in-bucket pair generation degenerates toward N²/2^bits candidate pairs
# (and the per-bucket member arrays grow with N). Defaults:
# a 60-bit fingerprint (15 md5 hex chars — the widest that stays positive
# in a signed BIGINT on both engines) split into 4 bands × 15 bits
# (32k-value band keys). All three are parameters; the oracle SQL is
# generated from the same constants so the two engines cannot drift.
SIM_BITS = 60
SIM_BANDS = 4
SIM_BAND_BITS = SIM_BITS // SIM_BANDS  # 15
_SIM_HEX = SIM_BITS // 4  # 15 md5 hex chars


def simhash_band_candidates(spark, sf_dir, nbits: int = SIM_BITS,
                            n_bands: int = SIM_BANDS):
    """Band-collision candidate pairs (pre-Hamming-verify), parameterized
    by fingerprint width / band count. Returns distinct
    (doc_a, doc_b, simhash_a, simhash_b)."""
    bb = nbits // n_bands
    mask = (1 << bb) - 1
    sh = simhash_df(spark, sf_dir, nbits=nbits, hexchars=nbits // 4)
    bands = sh.select(
        "doc_id", "simhash",
        F.explode(F.expr(f"sequence(0, {n_bands - 1})")).alias("b"),
    ).withColumn("bv", F.expr(f"shiftright(simhash, cast(b*{bb} as int)) "
                              f"& {mask}"))
    # in-bucket pair generation: the simhash explode+groupBy chain runs
    # once (a band self-join would execute it on both sides)
    return (
        bucket_pairs(bands, ["b", "bv"], "doc_id", payload=("simhash",))
        .select(F.col("pa.i").alias("doc_a"), F.col("pb.i").alias("doc_b"),
                F.col("pa.simhash").alias("sim_a"),
                F.col("pb.simhash").alias("sim_b"))
        .distinct()
    )


def simhash_pairs_sql(nbits: int = SIM_BITS, n_bands: int = SIM_BANDS,
                      hamming_max: int = HAMMING_MAX) -> str:
    """DuckDB oracle for :func:`dedup_simhash_pairs`, generated from the
    same (bits, bands, hamming) constants as the Spark plan."""
    bb = nbits // n_bands
    mask = (1 << bb) - 1
    return f"""
    WITH {_duck_simhash(nbits, nbits // 4)},
    bands AS (SELECT doc_id, simhash, b, (simhash >> (b*{bb})) & {mask} AS bv
              FROM sh, unnest(range(0, {n_bands})) AS u3(b))
    SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
           bit_count(xor(a.simhash, c.simhash)) AS hamming
    FROM bands a JOIN bands c
      ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
    WHERE bit_count(xor(a.simhash, c.simhash)) <= {hamming_max}
"""


@query("dedup_simhash_pairs", simhash_pairs_sql())
def dedup_simhash_pairs(spark, sf_dir, nbits: int = SIM_BITS,
                        n_bands: int = SIM_BANDS,
                        hamming_max: int = HAMMING_MAX):
    """SimHash near-dup pairs: 60-bit fingerprint, 4 bands × 15 bits →
    band-equality candidates → Hamming-distance verify (bit_count of XOR)
    ≤ 6. Width/band count are parameters sized ~log₂(N) (tests assert
    candidate pairs shrink ~2^Δ when band bits grow); the r2 8-bit bands
    capped the candidate set at ~N²/256 — a constant that did not survive
    a 100× corpus."""
    return (
        simhash_band_candidates(spark, sf_dir, nbits, n_bands)
        .withColumn("hamming", F.expr("bit_count(sim_a ^ sim_b)"))
        .filter(F.col("hamming") <= hamming_max)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


# --- cluster resolution: chain pairs → components → keep-list -------------

def chain_pairs_df(bands):
    """Per-bucket adjacency CHAINS instead of all-pairs: within each
    (band, band-signature) bucket, sort members by doc_id and link each to
    its successor — k−1 pairs per bucket where all-pairs emits k(k−1)/2.
    A spanning set preserves exactly the connectivity the component step
    needs, so for RESOLUTION (unlike the pair-dump entries) the quadratic
    expansion buys nothing. Measured on a 1M-doc corpus whose template
    chains put 316k docs in near-dup clusters: all-pairs generated 9.0M
    verified pairs (with the k²/2 hot-bucket tail running in single
    tasks); chains cap the pair count at the banded row count and the
    window is linear per bucket."""
    from pyspark.sql import Window as W
    w = W.partitionBy("b", "bsig").orderBy("doc_id")
    return (bands.withColumn("nxt", F.lead("doc_id").over(w))
            .filter(F.col("nxt").isNotNull())
            .select(F.col("doc_id").alias("doc_a"),
                    F.col("nxt").alias("doc_b"))
            .distinct())


@query("dedup_cluster_resolve", f"""
    WITH RECURSIVE {_DUCK_BANDS},
    chain AS (SELECT doc_id AS doc_a,
                     lead(doc_id) OVER (PARTITION BY b, bsig
                                        ORDER BY doc_id) AS doc_b
              FROM bands),
    cpairs AS (SELECT DISTINCT doc_a, doc_b FROM chain
               WHERE doc_b IS NOT NULL),
    vpairs AS (SELECT p.doc_a, p.doc_b
               FROM cpairs p JOIN sh sa ON p.doc_a = sa.doc_id
                             JOIN sh sb ON p.doc_b = sb.doc_id
               WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0
                     / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                     >= {JACCARD_MIN}),
    und AS (SELECT doc_a AS a, doc_b AS b FROM vpairs
            UNION SELECT doc_b, doc_a FROM vpairs),
    reach(node, lbl) AS (
        SELECT a, a FROM und
        UNION
        SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.node
    )
    SELECT node AS doc_id, min(lbl) AS canonical_id,
           CAST(node = min(lbl) AS INTEGER) AS is_keep
    FROM reach GROUP BY node
""")
def dedup_cluster_resolve(spark, sf_dir):
    """End-to-end near-dup RESOLUTION — the actual dedup deliverable (a
    keep-list), not a pair dump: LSH bucket adjacency chains
    (:func:`chain_pairs_df` — k−1 pairs per bucket, never k²/2) →
    exact-Jaccard verify on the chain pairs only → connected components
    over the verified graph (hash-min + pointer jumping,
    operators/graph.py) → one canonical survivor per cluster (min
    doc_id). Returns (doc_id, canonical_id, is_keep) for every doc that
    belongs to a near-dup cluster; the dedup'd corpus is the full corpus
    minus the is_keep = 0 rows (singletons never surface, so the output
    is cluster-sized, not corpus-sized).

    Semantics note: the pair BASIS is the spanning chain, so a cluster can
    split where a consecutive pair fails the Jaccard floor even though a
    skipped pair would pass — the standard web-scale tradeoff (4
    independent bands give 4 chances to re-link). The pair-dump entries
    (dedup_minhash_lsh/jaccard) keep all-pairs semantics. The oracle
    replays the identical chain → verify → min-reachable-label pipeline
    as a DuckDB recursive CTE."""
    pairs = _jaccard_verify(
        _shingles_df(spark, sf_dir),
        chain_pairs_df(_bands_df(spark, sf_dir))).select("doc_a", "doc_b")
    und = pairs.unionAll(
        pairs.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b")))
    comp = hash_min_components(und.toDF("a", "b"))
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("canonical_id"),
        (F.col("node") == F.col("comp")).cast("int").alias("is_keep"))
