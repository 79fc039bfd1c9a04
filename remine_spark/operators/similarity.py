"""Similarity search over the ``embeddings`` table (vec_id, embedding
FLOAT[64], label).

Three operators:
- ann_cosine_topk   — brute-force cosine top-k (the correctness baseline);
- ann_lsh_topk      — random-hyperplane LSH buckets, top-k within bucket
                      (the scale path: turns O(N·Q) into O(N·Q/2^planes));
- embedding_near_dup — LSH-band-gated pairs with cosine ≥ τ (two-phase
                      candidates→verify; never an all-pairs product).

Determinism/portability: hyperplane weights are ±1 derived from md5 parity
(same literal arrays inlined into the Spark plan and the DuckDB oracle), and
every dot product is a left-to-right DOUBLE fold, so scores are bit-identical
across engines before rounding.

Scale notes (100 TB / 10^9 vectors):
- brute force: queries are broadcast (small side), candidates stream —
  no shuffle until the per-query top-k (partial TakeOrdered per partition).
- LSH: bucket assignment is scan-side arithmetic (no Python, no shuffle);
  the join is sort-merge on bucket id; multiprobe (flip lowest-confidence
  bits) is the standard recall fix, noted but not needed at test scale.
- IVF alternative: k-means coarse quantizer via pyspark.ml KMeans, probe
  nearest cells — same join shape as the LSH variant.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Window, functions as F

from remine_spark.catalog import query, table
from remine_spark.operators.banding import bucket_pairs

DIM = 64
N_PLANES = 8
TOPK_BRUTE = 5
TOPK_LSH = 3
NEAR_DUP_TAU = 0.35


def hyperplanes(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes from md5 parity (seeded by
    (plane, dim) — stable across engines, retries, and cluster sizes)."""
    return [
        [1.0 if int(hashlib.md5(f"plane:{p}:{i}".encode()).hexdigest()[:8], 16) & 1
         else -1.0 for i in range(dim)]
        for p in range(n_planes)
    ]


def _w_spark(planes: list[list[float]]) -> str:
    return "array(" + ",".join(
        "array(" + ",".join(f"{w}D" for w in row) + ")"
        for row in planes) + ")"


def _w_duck(planes: list[list[float]]) -> str:
    return "[" + ",".join(
        "[" + ",".join(f"CAST({w} AS DOUBLE)" for w in row) + "]"
        for row in planes) + "]"


_PLANES = hyperplanes()

# (plane p, weight array) rows inlined as literals on both sides.
_W_SPARK = _w_spark(_PLANES)
_W_DUCK = _w_duck(_PLANES)

_V_SPARK = "transform(embedding, x -> cast(x as double))"
_V_DUCK = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

_DOT_SPARK = ("round(aggregate(zip_with(qv, v, (x, y) -> x*y), 0.0D, "
              "(acc, x2) -> acc + x2), 6)")
_DOT_DUCK = (f"round(list_reduce(list_transform(range(1, {DIM + 1}), "
             "i -> qv[i] * v[i]), (acc, x2) -> acc + x2), 6)")


@query("ann_cosine_topk", f"""
    WITH v AS (SELECT vec_id, {_V_DUCK} AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id < 10),
    s AS (SELECT q_id, vec_id AS cand_id, {_DOT_DUCK} AS cos
          FROM q, v WHERE vec_id <> q_id)
    SELECT q_id, cand_id, cos, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, cand_id) AS rnk
        FROM s)
    WHERE rnk <= {TOPK_BRUTE}
""")
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: broadcast the (small) query set against the
    full vector table; vectors are unit-norm so dot = cosine. The
    rank-filter over the q_id window compiles to a PARTIAL top-k: Catalyst's
    InferWindowGroupLimit inserts `WindowGroupLimit(..., row_number, k,
    Partial)` below the exchange, so each map task forwards at most k rows
    per query — the full candidate set never crosses the shuffle
    (asserted in tests/test_plan_shapes.py)."""
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.expr(_V_SPARK).alias("v"))
    q = v.filter("vec_id < 10").select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    s = (
        v.crossJoin(F.broadcast(q))
        .filter("vec_id <> q_id")
        .select("q_id", F.col("vec_id").alias("cand_id"),
                F.expr(_DOT_SPARK).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return s.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOPK_BRUTE)


def _duck_buckets_n(n_planes: int) -> str:
    """Bucket CTE with the hyperplane weights HOISTED into a VALUES
    relation — inlining the (planes × dim) literal array inside the
    per-element lambda makes DuckDB rebuild it per multiply, which turned
    the 32-plane oracle into minutes of constant re-construction."""
    rows = ",\n                 ".join(
        f"({p}, [" + ",".join(f"CAST({w} AS DOUBLE)" for w in row) + "])"
        for p, row in enumerate(hyperplanes(n_planes)))
    return f"""
    wt(p, w) AS (VALUES {rows}),
    v AS (SELECT vec_id, {_V_DUCK} AS v FROM embeddings),
    bits AS (SELECT vec_id, p,
                    CASE WHEN list_reduce(list_transform(range(1, {DIM + 1}),
                             i -> w[i] * v[i]),
                             (acc, x2) -> acc + x2) > 0
                         THEN (CAST(1 AS BIGINT) << ({n_planes - 1} - p))
                         ELSE 0 END AS bv
             FROM v CROSS JOIN wt),
    bk AS (SELECT vec_id, CAST(sum(bv) AS BIGINT) AS bucket
           FROM bits GROUP BY vec_id)
"""


_DUCK_BUCKETS = _duck_buckets_n(N_PLANES)


@query("ann_lsh_buckets", f"""
    WITH {_DUCK_BUCKETS}
    SELECT bucket, count(*) AS n_vecs FROM bk GROUP BY bucket
""")
def ann_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH bucket assignment (8 planes → 256 buckets):
    sign-bit concatenation of deterministic ±1 hyperplane projections.
    Scan-side arithmetic (Arrow-batched, no shuffle before the bucket
    agg); bucket histogram shows the skew profile."""
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.expr(_V_SPARK).alias("v"))
    # the Arrow sign-bucket kernel is bit-identical to the interpreted
    # HOF fold (see _bucket_udf: cumsum = the same left-to-right rounding
    # chain) and ~100x its throughput
    bk = v.select("vec_id", _bucket_udf(N_PLANES)(F.col("v")).alias("bucket"))
    return bk.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vecs"))


@query("ann_lsh_topk", f"""
    WITH {_DUCK_BUCKETS},
    vb AS (SELECT v.vec_id, v.v, bk.bucket FROM v JOIN bk ON v.vec_id = bk.vec_id),
    q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM vb WHERE vec_id < 10),
    s AS (SELECT q.q_id, vb.vec_id AS cand_id, {_DOT_DUCK} AS cos
          FROM q JOIN vb ON q.bucket = vb.bucket AND vb.vec_id <> q.q_id
          WHERE vb.v IS NOT NULL)
    SELECT q_id, cand_id, cos, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, cand_id) AS rnk
        FROM s)
    WHERE rnk <= {TOPK_LSH}
""")
def ann_lsh_topk(spark, sf_dir):
    """ANN top-k restricted to the query's LSH bucket — the scale path:
    candidates shrink by ~2^planes; recall is tunable via plane count and
    multiprobe. Join is an equi-join on bucket (sort-merge at scale,
    broadcast here since the query side is tiny)."""
    emb = table(spark, sf_dir, "embeddings")
    # coalesce makes the join key non-nullable (the kernel never yields
    # null), so the inner join's inferred isnotnull(bucket) constant-folds
    # away — otherwise ExtractPythonUDFs evaluates the kernel TWICE per
    # side: once for the pushed-down null filter, once for the projection
    vb = emb.select("vec_id", F.expr(_V_SPARK).alias("v")).withColumn(
        "bucket", F.coalesce(_bucket_udf(N_PLANES)(F.col("v")), F.lit(-1)))
    q = vb.filter("vec_id < 10").select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), "bucket")
    s = (
        vb.join(F.broadcast(q), "bucket")
        .filter("vec_id <> q_id")
        .select("q_id", F.col("vec_id").alias("cand_id"),
                F.expr(_DOT_SPARK).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return s.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOPK_LSH)


# --- embedding near-dup: scale-parameterized LSH band gate -----------------
# Band width is the quantity that must GROW with corpus size: with B bits
# per band, random (non-dup) collisions per band are ~N²/2^B, so B needs to
# track ~log₂(N) for the candidate set to stay linear. These are the
# defaults for the catalog fixture; callers pass their own (planes, bands)
# at scale — the DuckDB oracle below is generated from the same constants,
# so Spark and oracle can never drift.
ND_PLANES = 16
ND_BANDS = 2
ND_BAND_BITS = ND_PLANES // ND_BANDS  # 2 bands × 8 sign bits


def _bucket_spark(n_planes: int) -> str:
    w = _w_spark(hyperplanes(n_planes))
    return (
        f"aggregate(transform(sequence(0, {n_planes - 1}), p -> case when "
        f"aggregate(zip_with(element_at({w}, cast(p+1 as int)), v, "
        "(x, y) -> x*y), 0.0D, (acc, x2) -> acc + x2) > 0 "
        f"then shiftleft(cast(1 as bigint), cast({n_planes - 1} - p as int)) "
        "else cast(0 as bigint) end), cast(0 as bigint), (a2, b2) -> a2 + b2)"
    )


def _bucket_udf(n_planes: int):
    """Arrow-vectorized sign-bucket kernel, bit-identical to the HOF fold:
    per plane, products are IEEE-exact elementwise multiplies and the dot
    is np.cumsum's last element — cumsum is a strict left-to-right prefix
    sum, i.e. the same ((0+x1)+x2)+… rounding chain as the Spark
    `aggregate` fold and the DuckDB `list_reduce`, so bucket bits can
    never flip between engines. ~100× the interpreted HOF throughput at
    16 planes × 64 dims."""
    from pyspark.sql import types as T

    W = np.asarray(hyperplanes(n_planes), dtype=np.float64)  # (P, DIM)

    @F.pandas_udf(T.LongType())
    def bucket(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype="int64")
        X = np.stack(v.to_numpy())                      # (N, DIM)
        out = np.zeros(X.shape[0], dtype=np.int64)
        for p in range(W.shape[0]):
            dots = np.cumsum(X * W[p], axis=1)[:, -1]
            out |= (dots > 0).astype(np.int64) << (W.shape[0] - 1 - p)
        return pd.Series(out)

    return bucket


def near_dup_candidates(spark, sf_dir, n_planes: int = ND_PLANES,
                        n_bands: int = ND_BANDS):
    """LSH-banded candidate pairs (pre-verify): the n_planes sign bucket
    splits into n_bands bands; pairs colliding in ANY band become
    candidates via an equi-join on (band_id, band_value) — never an
    all-pairs product. Returns (vec_a, vec_b, qv, v) distinct pairs."""
    bb = n_planes // n_bands
    mask = (1 << bb) - 1
    emb = table(spark, sf_dir, "embeddings")
    # band rows are LIGHT (vec_id, band_id, bv): the Arrow bucket kernel
    # runs once (a band self-join would run it on both sides), and the
    # 64-double vectors never ride the band exchange or the pair DISTINCT —
    # they join back by vec_id only for the verify, the same
    # candidates→verify shape as dedup_minhash_jaccard
    bands = (
        emb.select("vec_id", F.expr(_V_SPARK).alias("v"))
        .withColumn("bucket", _bucket_udf(n_planes)(F.col("v")))
        .select(
            "vec_id", "bucket",
            F.explode(F.expr(f"sequence(0, {n_bands - 1})")).alias("band_id"))
        .withColumn(
            "bv",
            F.expr(f"shiftright(bucket, cast(({n_bands - 1} - band_id) * {bb} "
                   f"as int)) & {mask}")).drop("bucket")
    )
    pairs = (
        bucket_pairs(bands, ["band_id", "bv"], "vec_id")
        .select(F.col("pa.i").alias("vec_a"), F.col("pb.i").alias("vec_b"))
        .distinct()
    )
    # melt each pair to (side, vec_id), join the vector table ONCE, pivot
    # the sides back (dedup_minhash_jaccard's verify shape) — joining per
    # side would scan and shuffle the embeddings table twice
    melted = pairs.select(
        "vec_a", "vec_b",
        F.explode(F.expr(
            "array(struct('a' as side, vec_a as vec_id), "
            "struct('b' as side, vec_b as vec_id))")).alias("m"),
    ).select("vec_a", "vec_b", "m.side", "m.vec_id")
    v = emb.select("vec_id", F.expr(_V_SPARK).alias("v"))
    return (
        melted.join(v, "vec_id")
        .groupBy("vec_a", "vec_b")
        .agg(F.first(F.when(F.col("side") == "a", F.col("v")),
                     ignorenulls=True).alias("qv"),
             F.first(F.when(F.col("side") == "b", F.col("v")),
                     ignorenulls=True).alias("v"))
    )


def near_dup_sql(n_planes: int = ND_PLANES, n_bands: int = ND_BANDS,
                 tau: float = NEAR_DUP_TAU) -> str:
    """DuckDB oracle for :func:`embedding_near_dup`, generated from the
    SAME (planes, bands, tau) constants as the Spark plan."""
    bb = n_planes // n_bands
    mask = (1 << bb) - 1
    band_rows = "\n              UNION ALL\n".join(
        f"              SELECT vec_id, {b} AS band_id, "
        f"(bucket >> {(n_bands - 1 - b) * bb}) & {mask} AS bv FROM bk"
        for b in range(n_bands))
    return f"""
    WITH {_duck_buckets_n(n_planes)},
    bands AS (
{band_rows}),
    cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
             FROM bands a JOIN bands b
               ON a.band_id = b.band_id AND a.bv = b.bv
              AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b,
           round(list_reduce(list_transform(range(1, {DIM + 1}),
                 i -> va.v[i] * vb.v[i]), (acc, x2) -> acc + x2), 6) AS cos
    FROM cand
    JOIN v va ON va.vec_id = vec_a
    JOIN v vb ON vb.vec_id = vec_b
    WHERE round(list_reduce(list_transform(range(1, {DIM + 1}),
          i -> va.v[i] * vb.v[i]), (acc, x2) -> acc + x2), 6) >= {tau}
"""


@query("embedding_near_dup", near_dup_sql())
def embedding_near_dup(spark, sf_dir, n_planes: int = ND_PLANES,
                       n_bands: int = ND_BANDS, tau: float = NEAR_DUP_TAU):
    """Embedding-cosine near-dup (cosine ≥ tau), LSH-gated: n_planes sign
    bits split into n_bands bands (default 2×8 — band bits sized so random
    collisions stay ~N²/2^8 per band; grow them ~log₂(N) at larger N);
    pairs colliding in ANY band become candidates, then the exact cosine
    verifies — the same two-phase candidates→verify shape as
    dedup_minhash_jaccard. The DuckDB oracle replicates the gate from the
    same constants, so the semantics are the operator's declared
    LSH-recall contract, not a silent approximation. At 10^9 vectors the
    band join shuffles on a uniform 2^8-value band key per band; verify
    cost is bounded by collisions, never N² (tests assert the plan is
    cartesian-free and that candidates shrink ~2^Δ when band bits grow)."""
    return (
        near_dup_candidates(spark, sf_dir, n_planes, n_bands)
        .select("vec_a", "vec_b", F.expr(_DOT_SPARK).alias("cos"))
        .filter(F.col("cos") >= tau)
    )


def _ivf_cells_spark() -> str:
    """Centroid literals as array<struct<i, w>> for the Spark plan."""
    from remine_spark.operators.ivf_centroids import IVF_CENTROIDS

    return "array(" + ",".join(
        f"struct({i} as i, array("
        + ",".join(f"{w}D" for w in row) + ") as w)"
        for i, row in enumerate(IVF_CENTROIDS)) + ")"


# argmin over squared-L2 to each centroid literal; array_min on
# struct<d, cell> breaks exact-distance ties on the lower cell id —
# the same (d, cell) ordering the oracle's row_number uses
_ASSIGN_SPARK = (
    "array_min(transform(" + "{cents}" + ", c -> struct("
    "aggregate(zip_with(v, c.w, (x, y) -> (x-y)*(x-y)), 0.0D, "
    "(acc, x2) -> acc + x2) as d, c.i as cell))).cell")


def _ivf_sql() -> str:
    from remine_spark.operators.ivf_centroids import IVF_CENTROIDS

    rows = ",\n        ".join(
        f"({i}, [" + ",".join(f"CAST({w} AS DOUBLE)" for w in row) + "])"
        for i, row in enumerate(IVF_CENTROIDS))
    return f"""
    WITH v AS (SELECT vec_id, {_V_DUCK} AS v FROM embeddings),
    cents AS (SELECT * FROM (VALUES
        {rows}) AS t(cell, w)),
    d AS (SELECT vec_id, cell,
          list_reduce(list_transform(range(1, {DIM + 1}),
              i -> (v[i]-w[i])*(v[i]-w[i])), (acc, x2) -> acc + x2) AS d
          FROM v, cents),
    assigned AS (SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY d, cell) AS rn FROM d)
          WHERE rn = 1),
    q AS (SELECT a.vec_id AS q_id, v.v AS qv, a.cell
          FROM assigned a JOIN v ON v.vec_id = a.vec_id
          WHERE a.vec_id < 10),
    s AS (SELECT q_id, a.vec_id AS cand_id, {_DOT_DUCK} AS cos
          FROM q JOIN assigned a ON a.cell = q.cell
          JOIN v ON v.vec_id = a.vec_id
          WHERE a.vec_id <> q_id)
    SELECT q_id, cand_id, cos, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, cand_id) AS rnk
        FROM s)
    WHERE rnk <= {TOPK_LSH}
"""


@query("ann_ivf_topk", _ivf_sql())
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN with an offline-trained coarse quantizer: centroids are
    INDEX PARAMETERS (KMeans k=16 seed=42, scripts/fit_ivf_centroids.py)
    inlined as double literals, exactly like the LSH hyperplanes — real
    IVF systems train the quantizer offline on a sample and ship it; the
    online path is pure arithmetic. Cell assignment is a scan-side
    argmin over squared-L2 to each centroid (codegen, no Python, no
    shuffle); the probe is an equi-join on cell id (nprobe=1, sort-merge
    at scale); exact cosine top-k within the cell. Candidate count drops
    ~n_cells vs brute force. The DuckDB oracle replicates assignment and
    probe from the SAME literals with the same left-to-right DOUBLE
    folds, so the driver hash-checks the whole index path."""
    from pyspark.sql import Window, functions as F

    emb = table(spark, sf_dir, "embeddings")
    assigned = emb.select(
        "vec_id", F.expr(_V_SPARK).alias("v")).select(
        "vec_id", "v",
        F.expr(_ASSIGN_SPARK.format(cents=_ivf_cells_spark())).alias("cell"))
    q = assigned.filter("vec_id < 10").select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), "cell")
    s = (
        assigned.join(F.broadcast(q), "cell")
        .filter("vec_id <> q_id")
        .select("q_id", F.col("vec_id").alias("cand_id"),
                F.expr(_DOT_SPARK).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return s.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOPK_LSH)
