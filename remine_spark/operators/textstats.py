"""Text-analysis operators over ``documents``: token counting (whitespace +
BPE-ish regex), document fingerprinting (winnowing-style selection over
char-8-gram hashes), self-trained bigram-LM perplexity scoring
(CCNet/KenLM-shaped quality filter), token-budget sequence packing
(the pretraining concat-then-chunk planner), deterministic
hash-bucket stratified sampling (the data-mixing primitive), and
benchmark decontamination (token-8-gram containment of an eval set).

Language-ID and quality scoring live in remine_spark.queries
(lang_id_heuristic, text_quality_score); together these cover the
text-analysis block of a training-data pipeline.

Scale notes: token_count and doc_fingerprint are pure scan-side array
expressions — no shuffle at all except the final write, whole-stage
codegen, O(chars) per document. lm_perplexity adds one partial-aggregated
shuffle plus a broadcast scoring join; pack_token_budget uses the
distributed prefix-sum pattern (never a single-partition window);
sample_stratified is a scan-side filter (pure map work at any scale).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from remine_spark.catalog import h32_duck, h32_spark, query, table
from remine_spark.operators.relational import _prefix_sum

# One "word" per letter-run, digit-run, or single non-alnum char — the same
# pre-tokenization regex family BPE tokenizers (GPT-2 style) apply before
# merges; ~1.3 subword inflation is the standard planning estimate.
_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"
_BPE_INFLATION = 1.3

GRAM = 8          # fingerprint char n-gram width
MOD_P = 16        # winnowing mod-p selection: keep hashes ≡ 0 (mod 16)


@query("token_count", f"""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '{_RE}')) AS re_tokens,
           CAST(ceil(len(regexp_extract_all(text, '{_RE}')) * {_BPE_INFLATION})
                AS BIGINT) AS est_bpe_tokens
    FROM documents
""")
def token_count(spark, sf_dir):
    """Token counting: whitespace tokens, regex pre-tokens, and a BPE token
    estimate (regex pre-tokens × 1.3). All codegen'd scan-side exprs."""
    d = table(spark, sf_dir, "documents")
    re_toks = F.expr(f"size(regexp_extract_all(text, '{_RE}', 0))")
    return d.select(
        "doc_id",
        F.expr("size(filter(split(text, ' '), x -> x != ''))").alias("ws_tokens"),
        re_toks.alias("re_tokens"),
        F.ceil(re_toks * _BPE_INFLATION).cast("bigint").alias("est_bpe_tokens"),
    )


@query("doc_fingerprint", f"""
    WITH g AS (SELECT doc_id,
                      list_filter(
                          list_transform(range(1, len(text) - {GRAM - 2}),
                              i -> {h32_duck(f"substr(text, CAST(i AS INT), {GRAM})")}),
                          h -> h % {MOD_P} = 0) AS fps
               FROM documents WHERE len(text) >= {GRAM})
    SELECT doc_id,
           len(list_distinct(fps)) AS n_fp,
           CAST(list_min(fps) AS BIGINT) AS min_fp
    FROM g
""")
def doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: rolling char-8-gram hashes, winnowing-style
    mod-p selection (keep h ≡ 0 mod 16). n_fp is the sketch size; min_fp a
    stable per-doc signature. Two docs sharing content share fingerprints —
    joinable for plagiarism/containment detection (groupBy fp → doc lists)."""
    d = table(spark, sf_dir, "documents").filter(F.length("text") >= GRAM)
    fps = F.expr(
        f"filter(transform(sequence(1, length(text) - {GRAM - 1}), "
        f"i -> {h32_spark(f'substr(text, cast(i as int), {GRAM})')}), "
        f"h -> h % {MOD_P} = 0)")
    return d.select(
        "doc_id",
        F.size(F.array_distinct(fps)).alias("n_fp"),
        F.array_min(fps).cast("bigint").alias("min_fp"),
    )


# word tokenizer shared by the LM: lowercase alnum runs — the same regex
# evaluates identically under Java regex (Spark) and RE2 (DuckDB)
_LM_TOK = "[a-z0-9]+"


@query("lm_perplexity", f"""
    WITH tok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{_LM_TOK}') AS t
        FROM documents
    ), big AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
              FROM tok WHERE len(t) >= 2)
    ), db AS (
        SELECT doc_id, w1, w2, count(*) AS n FROM big GROUP BY doc_id, w1, w2
    ), lm2 AS (SELECT w1, w2, sum(n) AS c2 FROM db GROUP BY w1, w2),
    lm1 AS (SELECT w1, sum(c2) AS c1 FROM lm2 GROUP BY w1),
    sc AS (
        SELECT d.doc_id,
               -sum(n * ln(c2 / c1)) / sum(n) AS nll,
               sum(n) AS n_bigrams
        FROM db d JOIN lm2 USING (w1, w2) JOIN lm1 USING (w1)
        GROUP BY d.doc_id
    )
    SELECT doc_id, n_bigrams,
           round(nll, 6) AS nll_per_token,
           round(exp(nll), 4) AS ppl
    FROM sc
""")
def lm_perplexity(spark, sf_dir):
    """Self-trained bigram-LM quality score (the CCNet/KenLM-shaped filter
    of web-scale training-data pipelines): fit word-bigram MLE counts on
    the corpus itself, score each document by mean negative log-likelihood
    per bigram and its perplexity. Repetitive/templated documents score
    LOW ppl, incoherent token soup scores HIGH; both tails are the usual
    drop candidates.

    Plan: tokenization and bigram generation are codegen scan expressions
    feeding ONE (doc_id, w1, w2) partial-aggregated shuffle; that per-doc
    count table is materialized once (lazy localCheckpoint — it feeds both
    the LM build and the scoring join, and Catalyst has no cross-consumer
    subplan reuse, so without it the corpus scan + regex would execute
    twice; same fix as j2's shared unigram agg). The LM derives from it
    map-side-combined, prefix counts from the bigram counts (never a
    second corpus scan), and scoring joins the broadcast LM back
    (vocab-sized ≪ corpus). At 100 TB the materialization becomes a
    parquet stage table instead of a localCheckpoint, and the unsmoothed
    self-LM is pruned (min-count + top-K continuations per prefix — the
    standard KenLM pruning) to stay broadcastable, or shuffle-joined on
    w1 with salting for stopword-head skew; MLE on the training corpus
    itself means every scored bigram is in the LM, so pruning is the only
    scale lever needed."""
    d = table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.expr(f"regexp_extract_all(lower(text), '{_LM_TOK}', 0)").alias("t"),
    ).filter(F.size("t") >= 2)
    big = docs.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(t) - 2), "
            "i -> struct(t[i] AS w1, t[i + 1] AS w2))")).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    db = (big.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("n"))
          .localCheckpoint(eager=False))
    lm2 = db.groupBy("w1", "w2").agg(F.sum("n").alias("c2"))
    lm1 = lm2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    lm = lm2.join(lm1, "w1")
    nll = (-F.sum(F.col("n") * F.log(F.col("c2") / F.col("c1")))
           / F.sum("n"))
    return (
        db.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(nll.alias("nll"), F.sum("n").alias("n_bigrams"))
        .select("doc_id", "n_bigrams",
                F.round("nll", 6).alias("nll_per_token"),
                F.round(F.exp("nll"), 4).alias("ppl"))
    )


PACK_BUDGET = 4096  # tokens per training shard (context-length planning unit)


@query("pack_token_budget", f"""
    WITH d AS (
        SELECT doc_id,
               len(list_filter(string_split(coalesce(text, ''), ' '),
                               x -> x <> '')) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS t_offset
        FROM d
    )
    SELECT doc_id, n_tokens, t_offset,
           t_offset // {PACK_BUDGET} AS shard_id,
           t_offset % {PACK_BUDGET} AS shard_off,
           CASE WHEN n_tokens = 0 THEN false
                ELSE (t_offset + n_tokens - 1) // {PACK_BUDGET}
                     > t_offset // {PACK_BUDGET} END AS spans_shards
    FROM c
""")
def pack_token_budget(spark, sf_dir):
    """Sequence-packing planner (the pretraining concat-then-chunk step):
    stream documents in doc_id order into fixed token-budget shards and
    emit each doc's global token offset, its shard, its offset inside the
    shard, and whether it crosses a shard boundary (where a packer splits
    or pads). The byte-moving pack itself is then a write partitioned by
    shard_id — this operator is the deterministic plan for it.

    Scale: the global running sum NEVER uses an unpartitioned window
    (single-partition sort = the classic scale-killer); it is the
    distributed prefix-sum pattern (_prefix_sum) — range partition, local
    running sums in parallel, one #partitions-sized totals collect
    broadcast back. Everything else is scan-side arithmetic."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("size(filter(split(coalesce(text, ''), ' '), x -> x != ''))")
        .cast("long").alias("n_tokens"),
    )
    c = _prefix_sum(d, "doc_id", "n_tokens", "t_offset")
    b = F.lit(PACK_BUDGET)
    shard = F.expr(f"t_offset div {PACK_BUDGET}")
    return c.select(
        "doc_id", "n_tokens", "t_offset",
        shard.alias("shard_id"),
        (F.col("t_offset") % b).alias("shard_off"),
        F.when(F.col("n_tokens") == 0, F.lit(False)).otherwise(
            F.expr(f"(t_offset + n_tokens - 1) div {PACK_BUDGET}")
            > shard).alias("spans_shards"),
    )


# per-stratum keep-rates out of 100: upsample scarce languages, downsample
# the head — the standard pretraining data-mixing move
SAMPLE_RATES = {"en": 40, "de": 80, "fr": 80}
SAMPLE_RATE_DEFAULT = 100


def _rate_case_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} = '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items()))
    return f"CASE {whens} ELSE {SAMPLE_RATE_DEFAULT} END"


@query("sample_stratified", f"""
    WITH k AS (
        SELECT doc_id, lang,
               {h32_duck("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
               {_rate_case_sql('lang')} AS rate
        FROM documents
    )
    SELECT lang, count(*) AS n_sampled,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM k WHERE bucket < rate
    GROUP BY lang
""")
def sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling (training-data mixing): each
    document keeps or drops itself by hashing its OWN id into one of 100
    buckets and comparing against its language-stratum keep-rate — no RNG,
    no state, reproducible across runs/engines/cluster sizes, and stable
    under re-partitioning (unlike df.sample, whose output depends on
    partition layout). Scan-side filter → pure map work at 100 TB; the
    summary agg here is one small shuffle. The sampled-docs form is the
    same plan minus the groupBy."""
    d = table(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v))
          for k, v in sorted(SAMPLE_RATES.items())],
        F.lit(SAMPLE_RATE_DEFAULT))
    bucket = F.expr(
        h32_spark("cast(doc_id as string)")) % 100
    return (d.filter(bucket < rate)
            .groupBy("lang")
            .agg(F.count("*").alias("n_sampled"),
                 F.min("doc_id").cast("long").alias("first_doc"),
                 F.max("doc_id").cast("long").alias("last_doc")))


# decontamination parameters: token-8-gram shingles (the usual benchmark-
# contamination unit), flag a train/eval pair sharing >= 3 distinct shingles
CONTAM_GRAM = 8
CONTAM_MIN_SHARED = 3
CONTAM_EVAL_MAX_ID = 50  # docs below this id act as the "benchmark" set


def _shingle_expr_spark(tokcol: str) -> str:
    join8 = f"concat_ws(' ', slice({tokcol}, i, {CONTAM_GRAM}))"
    return (f"transform(sequence(1, size({tokcol}) - {CONTAM_GRAM - 1}), "
            f"i -> {h32_spark(join8)})")


def _shingle_expr_duck(tokcol: str) -> str:
    join8 = (f"list_aggregate(list_slice({tokcol}, i, "
             f"i + {CONTAM_GRAM - 1}), 'string_agg', ' ')")
    return (f"list_transform(range(1, len({tokcol}) - {CONTAM_GRAM - 2}), "
            f"i -> {h32_duck(join8)})")


@query("contamination_check", f"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split(coalesce(text, ''), ' '),
                           x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_distinct({_shingle_expr_duck('t')})) AS h
        FROM tok WHERE len(t) >= {CONTAM_GRAM}
    ), ev  AS (SELECT doc_id AS eval_id,  h FROM sh
               WHERE doc_id <  {CONTAM_EVAL_MAX_ID}),
       tr  AS (SELECT doc_id AS train_id, h FROM sh
               WHERE doc_id >= {CONTAM_EVAL_MAX_ID})
    SELECT train_id, eval_id, count(*) AS shared_shingles
    FROM tr JOIN ev USING (h)
    GROUP BY train_id, eval_id
    HAVING count(*) >= {CONTAM_MIN_SHARED}
""")
def contamination_check(spark, sf_dir):
    """Benchmark decontamination (train/test overlap): flag training
    documents sharing ≥ {CONTAM_MIN_SHARED} distinct token-8-gram
    shingles with any document of the "benchmark" set (here the fixed
    doc_id < {CONTAM_EVAL_MAX_ID} slice of the sequential-id test corpus
    stands in for an eval suite; in production the eval side is its own
    small table — swap the filter for that scan, nothing else changes).
    This is CONTAINMENT detection, not near-dup dedup: a 10-line eval
    prompt buried in a 10k-token page never trips MinHash Jaccard but
    trips this.

    Plan: shingling is a scan-side codegen expression (hash per 8-gram,
    per-doc distinct); the eval side is tiny by construction and is
    BROADCAST, so the check is one corpus scan + a broadcast hash join +
    one partial-aggregated shuffle on (train, eval) pairs. At 100 TB the
    eval suite (benchmarks, not web data) stays small — the broadcast
    holds; only the pair aggregation shuffles, keyed by pair, uniform
    unless one eval doc contaminates everything (then AQE skew-split)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("filter(split(coalesce(text, ''), ' '), x -> x != '')")
        .alias("t"),
    ).filter(F.size("t") >= CONTAM_GRAM)
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.expr(_shingle_expr_spark("t")))).alias("h"))
    ev = (sh.filter(F.col("doc_id") < CONTAM_EVAL_MAX_ID)
          .withColumnRenamed("doc_id", "eval_id"))
    tr = (sh.filter(F.col("doc_id") >= CONTAM_EVAL_MAX_ID)
          .withColumnRenamed("doc_id", "train_id"))
    return (tr.join(F.broadcast(ev), "h")
            .groupBy("train_id", "eval_id")
            .agg(F.count("*").alias("shared_shingles"))
            .filter(F.col("shared_shingles") >= CONTAM_MIN_SHARED))


# Shared repetition-metric fragments (rep_ngram_dup_frac +
# quality_gopher_filter): the sorted-3-gram array, the count of positions
# whose 3-gram repeats in-doc (elements equal to a sorted neighbour), and
# the duplicate-token fraction — Spark and DuckDB spellings generated from
# the same shapes. The Spark neighbour probes are clamped (greatest/least)
# because SQL AND does not short-circuit and element_at throws on index 0;
# DuckDB's out-of-range list index yields NULL, which the guard absorbs.
_SG_SPARK = ("array_sort(transform(sequence(1, size(toks) - 2), "
             "i -> concat_ws(' ', slice(toks, cast(i as int), 3))))")
_DUP3_SPARK = (
    "size(filter(sequence(1, size(sg)), i -> "
    "(i > 1 AND element_at(sg, cast(i as int)) = "
    "element_at(sg, cast(greatest(i - 1, 1) as int))) OR "
    "(i < size(sg) AND element_at(sg, cast(i as int)) = "
    "element_at(sg, cast(least(i + 1, size(sg)) as int)))))"
)
_DUPTOK_SPARK = ("(1.0 - size(array_distinct(toks)) "
                 "/ cast(size(toks) as double))")
_SG_DUCK = ("list_sort(list_transform(range(1, len(toks) - 1), "
            "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))")
_DUP3_DUCK = ("len(list_filter(range(1, len(sg) + 1), "
              "i -> (i > 1 AND sg[i] = sg[i-1]) "
              "OR (i < len(sg) AND sg[i] = sg[i+1])))")
_DUPTOK_DUCK = "(1.0 - len(list_distinct(toks)) * 1.0 / len(toks))"


@query("rep_ngram_dup_frac", f"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM documents),
    g AS (SELECT doc_id, toks, {_SG_DUCK} AS sg
          FROM t WHERE len(toks) >= 3)
    SELECT doc_id,
           len(toks) AS n_tokens,
           round({_DUPTOK_DUCK}, 6) AS dup_token_frac,
           round({_DUP3_DUCK} * 1.0 / len(sg), 6) AS dup_3gram_frac
    FROM g
""")
def rep_ngram_dup_frac(spark, sf_dir):
    """Intra-document repetition metrics (the Gopher/MassiveText "repetition
    signals" family): per doc, the fraction of tokens that are repeats
    (1 − distinct/total) and the fraction of word-3-gram positions whose
    3-gram occurs more than once in the document. Both are standard
    pretraining quality-filter inputs — boilerplate and spam pages score
    high, prose scores low.

    Plan: a per-doc metric must NOT shuffle the corpus — the obvious
    explode→groupBy(doc_id, gram)→groupBy(doc_id) formulation pushes every
    gram of every document through two exchanges just to come back to one
    row per doc. Instead the 3-gram array is sorted IN ROW (array_sort)
    and duplicated positions are counted as elements equal to a sorted
    neighbour — O(n log n) per document, whole-stage codegen, ZERO
    shuffles at any corpus size. The out-of-range neighbour probes are
    clamped (greatest/least) because SQL AND does not short-circuit and
    Spark's element_at throws on index 0."""
    d = table(spark, sf_dir, "documents")
    g = (
        d.select("doc_id",
                 F.expr("filter(split(text, ' '), x -> x != '')").alias("toks"))
        .filter(F.expr("size(toks) >= 3"))
        .withColumn("sg", F.expr(_SG_SPARK))
    )
    return g.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.expr(f"round({_DUPTOK_SPARK}, 6)").alias("dup_token_frac"),
        F.expr(f"round({_DUP3_SPARK} / cast(size(sg) as double), 6)")
        .alias("dup_3gram_frac"),
    )


# Gopher-style document quality gate thresholds (Rae et al. 2021 family,
# constants tuned so the synthetic fixture corpus actually splits on every
# rule): token-count window, mean-token-length window, minimum stopword
# ratio, maximum repetition fractions.
QF_MIN_TOKENS = 20
QF_MAX_TOKENS = 100_000
QF_MIN_AVG_TOK_LEN = 2.0
QF_MAX_AVG_TOK_LEN = 12.0
QF_STOPWORDS = ("the", "a", "of", "in", "and")
QF_MIN_STOP_RATIO = 0.02
QF_MAX_DUP_TOK_FRAC = 0.6
QF_MAX_DUP_3GRAM_FRAC = 0.01


@query("quality_gopher_filter", f"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks,
                      text
               FROM documents),
    g AS (SELECT doc_id, toks, text, {_SG_DUCK} AS sg
          FROM t WHERE len(toks) >= 3),
    m AS (SELECT doc_id,
                 len(toks) AS n_tokens,
                 length(replace(text, ' ', '')) * 1.0 / len(toks) AS atl,
                 len(list_filter(toks, x -> x IN
                     {QF_STOPWORDS!r})) * 1.0 / len(toks) AS stop_ratio,
                 {_DUPTOK_DUCK} AS dup_tok,
                 {_DUP3_DUCK} * 1.0 / len(sg) AS dup3
          FROM g)
    SELECT doc_id,
           CAST(n_tokens BETWEEN {QF_MIN_TOKENS} AND {QF_MAX_TOKENS}
                AS INTEGER) AS ok_len,
           CAST(atl BETWEEN {QF_MIN_AVG_TOK_LEN} AND {QF_MAX_AVG_TOK_LEN}
                AS INTEGER) AS ok_tok_len,
           CAST(stop_ratio >= {QF_MIN_STOP_RATIO} AS INTEGER) AS ok_stop,
           CAST(dup_tok <= {QF_MAX_DUP_TOK_FRAC}
                AND dup3 <= {QF_MAX_DUP_3GRAM_FRAC} AS INTEGER) AS ok_rep,
           CAST(n_tokens BETWEEN {QF_MIN_TOKENS} AND {QF_MAX_TOKENS}
                AND atl BETWEEN {QF_MIN_AVG_TOK_LEN} AND {QF_MAX_AVG_TOK_LEN}
                AND stop_ratio >= {QF_MIN_STOP_RATIO}
                AND dup_tok <= {QF_MAX_DUP_TOK_FRAC}
                AND dup3 <= {QF_MAX_DUP_3GRAM_FRAC} AS INTEGER) AS passes
    FROM m
    UNION ALL
    SELECT doc_id, 0 AS ok_len, 0 AS ok_tok_len, 0 AS ok_stop, 0 AS ok_rep,
           0 AS passes
    FROM t WHERE coalesce(len(toks), 0) < 3
""")
def quality_gopher_filter(spark, sf_dir):
    """Composite Gopher-style quality gate: per document, pass/fail flags
    for token-count window, mean token length, stopword-ratio floor, and
    repetition ceilings (duplicate-token and duplicate-3-gram fractions),
    plus the conjunction. This is THE standard pretraining corpus filter
    shape — each flag is kept separately so downstream mixing can relax
    individual rules without recomputing. A doc of fewer than 3 tokens has
    no 3-gram to measure: it is emitted with every flag and ``passes`` 0
    (rejected, not unexamined).

    Plan: every rule is a scan-side expression over the in-row token
    array (repetition via the shared sorted-neighbour fragments — see
    rep_ngram_dup_frac), and the short docs are a second scan-side
    filter UNIONed in; ZERO shuffles at any corpus size. Thresholds are
    exact-comparison-safe across engines: all metrics are ratios of
    integers, compared identically as doubles in Spark and DuckDB."""
    d = table(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{s}'" for s in QF_STOPWORDS)
    toks = d.select(
        "doc_id", "text",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("toks"))
    m = (
        toks.filter(F.expr("size(toks) >= 3"))
        .withColumn("sg", F.expr(_SG_SPARK))
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.expr("length(replace(text, ' ', '')) "
                   "/ cast(size(toks) as double)").alias("atl"),
            F.expr(f"size(filter(toks, x -> x IN ({stop_list}))) "
                   "/ cast(size(toks) as double)").alias("stop_ratio"),
            F.expr(_DUPTOK_SPARK).alias("dup_tok"),
            F.expr(f"{_DUP3_SPARK} / cast(size(sg) as double)").alias("dup3"),
        )
    )
    ok_len = F.col("n_tokens").between(QF_MIN_TOKENS, QF_MAX_TOKENS)
    ok_tok_len = F.col("atl").between(QF_MIN_AVG_TOK_LEN, QF_MAX_AVG_TOK_LEN)
    ok_stop = F.col("stop_ratio") >= QF_MIN_STOP_RATIO
    ok_rep = (F.col("dup_tok") <= QF_MAX_DUP_TOK_FRAC) & \
        (F.col("dup3") <= QF_MAX_DUP_3GRAM_FRAC)
    flags = m.select(
        "doc_id",
        ok_len.cast("int").alias("ok_len"),
        ok_tok_len.cast("int").alias("ok_tok_len"),
        ok_stop.cast("int").alias("ok_stop"),
        ok_rep.cast("int").alias("ok_rep"),
        (ok_len & ok_tok_len & ok_stop & ok_rep).cast("int").alias("passes"),
    )
    short = toks.filter(F.expr("coalesce(size(toks), 0) < 3")).select(
        "doc_id", *[F.lit(0).alias(c) for c in
                    ("ok_len", "ok_tok_len", "ok_stop", "ok_rep", "passes")])
    return flags.unionByName(short)


@query("host_doc_stats", """
    SELECT source,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           count(DISTINCT lang) AS n_langs,
           round(avg(len(list_filter(string_split(coalesce(text, ''), ' '),
                                     x -> x <> ''))), 4) AS avg_tokens
    FROM documents GROUP BY source
""")
def host_doc_stats(spark, sf_dir):
    """Per-source (host/domain) corpus profile: document count, average
    length in chars and tokens, language diversity — the first aggregate
    every web-pipeline dashboard computes, and the input to domain-level
    filtering/mixing decisions. One partial-aggregated shuffle keyed by
    source; at 100 TB the source key is domain-cardinality (millions of
    uniform groups) — a textbook hash agg."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg(F.expr("size(filter(split(coalesce(text, ''), ' '), "
                             "x -> x != ''))")), 4)
        .alias("avg_tokens"),
    )
