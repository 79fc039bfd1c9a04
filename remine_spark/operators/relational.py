"""Additional SURVEY §2 relational rows as catalog entries: aligned-scan
zip (S1), punctuation sentence splitting (P1), positional super-pattern
join (J3), occurrence-context aggregates (A4), eval P/R counts (A11),
regex relation matching (F8), and two TPC-H-shaped analytics probes
(Q3/Q6 analogs) that exercise predicate pushdown + multi-join planning.

Each docstring cites the reference behavior it re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from remine_spark.catalog import query, table

_STOPS = "('the','a','of','in','and','is','to')"


def _local_prefix_sums(df, key: str, val: str, n_parts: int = 8):
    """The lazy pre-materialization fragment of :func:`_prefix_sum` —
    split out so plan tests can assert its shape (range partition + per-pid
    local running sum, never a single-partition global sort)."""
    d = (df.repartitionByRange(n_parts, F.col(key))
         .withColumn("_pid", F.spark_partition_id()))
    w = (Window.partitionBy("_pid").orderBy(key)
         .rowsBetween(Window.unboundedPreceding, -1))
    return d.withColumn(
        "_local_off", F.coalesce(F.sum(val).over(w), F.lit(0)).cast("long"))


def _prefix_sum(df, key: str, val: str, out: str, n_parts: int = 8):
    """Global EXCLUSIVE prefix sum of ``val`` in ``key`` order without a
    single-partition window — the zipWithIndex pattern in pure DataFrame
    ops (s1_zip_scan's ordinal is this sum over a constant 1):
    range-partition on the key (partitions globally ordered), running-sum
    locally per partition (parallel window), then add per-partition
    totals (one bounded-by-#partitions collect, broadcast back). Scales to
    any row count."""
    # materialize BEFORE the totals action: RangePartitioner samples
    # boundaries per execution (seeded by rdd id), so an unmaterialized
    # plan could place rows differently in the totals job vs the final
    # join job, misaligning the offsets. localCheckpoint (not persist)
    # pins one partitioning for both AND releases its blocks when the
    # DataFrame is garbage-collected — a plain DataFrame persist lives in
    # the CacheManager until an explicit unpersist that no caller of a
    # lazily-returned result can safely issue.
    d = _local_prefix_sums(df, key, val, n_parts).localCheckpoint()
    totals = sorted(
        (r["_pid"], r["s"]) for r in
        d.groupBy("_pid").agg(F.sum(val).alias("s")).collect())
    offset, offsets = 0, {}
    for pid, s in totals:
        offsets[pid] = offset
        offset += int(s or 0)
    off_df = d.sparkSession.createDataFrame(
        [(p, o) for p, o in offsets.items()], "_pid int, _poff long")
    return (d.join(F.broadcast(off_df), "_pid")
            .withColumn(out, F.col("_local_off") + F.col("_poff"))
            .drop("_pid", "_local_off", "_poff"))


@query("s1_zip_scan", """
    WITH dd AS (SELECT doc_id, n_chars,
                       row_number() OVER (ORDER BY doc_id) AS rn FROM documents),
         ee AS (SELECT vec_id, label,
                       row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings)
    SELECT dd.doc_id, ee.vec_id, dd.n_chars, ee.label
    FROM dd JOIN ee ON dd.rn = ee.rn
""")
def s1_zip_scan(spark, sf_dir):
    """S1 (preprocessing.py:81-116; documents.h:149-316): the reference zips
    three parallel positional files line-by-line. Relational form: ordinal
    zip-join of two sorted scans. The ordinal is the distributed prefix sum
    (_prefix_sum) of a constant 1 — range partition + local running sum +
    offset add — never a global-order window's single-partition sort."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    # the 0-based ordinal is the exclusive prefix sum of a constant 1
    dd = _prefix_sum(d.select("doc_id", "n_chars", F.lit(1).alias("_one")),
                     "doc_id", "_one", "rn")
    ee = _prefix_sum(e.select("vec_id", "label", F.lit(1).alias("_one")),
                     "vec_id", "_one", "rn")
    return dd.join(ee, "rn").select("doc_id", "vec_id", "n_chars", "label")


@query("p1_sentence_split", """
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM documents),
    tok AS (SELECT doc_id, toks[i] AS tok, i
            FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
    marked AS (SELECT doc_id, tok, i,
                      CAST(coalesce(sum(CASE WHEN tok = 'the' THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS sent_id
               FROM tok)
    SELECT doc_id, sent_id, count(*) AS n_tokens
    FROM marked GROUP BY doc_id, sent_id
""")
def p1_sentence_split(spark, sf_dir):
    """P1 (documents.h:318-358, segment.cpp:159-166): split the token stream
    at separator tokens via a running-sum window (separator closes its
    sentence). Synthetic docs have no punctuation, so 'the' plays the
    separator role; the operator shape — posexplode + prefix-sum window
    partitioned by doc — is exactly the scalable splitter."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.expr("filter(split(text,' '), x -> x != '')"))
        .alias("i", "tok"))
    w = (Window.partitionBy("doc_id").orderBy("i")
         .rowsBetween(Window.unboundedPreceding, -1))
    marked = tok.withColumn(
        "sent_id",
        F.coalesce(F.sum(F.when(F.col("tok") == "the", 1).otherwise(0)).over(w),
                   F.lit(0)).cast("bigint"))
    return marked.groupBy("doc_id", "sent_id").agg(
        F.count(F.lit(1)).alias("n_tokens"))


@query("j3_superpattern", """
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM documents),
    tok AS (SELECT doc_id, toks[i] AS tok, i
            FROM t, unnest(range(1, len(toks) + 1)) AS u(i))
    SELECT a.tok || ' ' || b.tok || ' ' || c.tok AS ngram, count(*) AS freq
    FROM tok a
    JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2
    GROUP BY 1 HAVING count(*) >= 3
""")
def j3_superpattern(spark, sf_dir):
    """J3 (feature_extraction.h:165-180): super-pattern lookup — extend an
    occurrence by its next token via a positional equi-join on
    (doc_id, pos+1). Shuffle key (doc_id, pos) is uniform; at scale the
    array-slide formulation (a2_bigram_minsup style) avoids the join
    entirely — this entry keeps the join shape the reference uses."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.expr("filter(split(text,' '), x -> x != '')"))
        .alias("i", "tok"))
    a = tok.select("doc_id", F.col("i").alias("ia"), F.col("tok").alias("w1"))
    b = tok.select("doc_id", (F.col("i") - 1).alias("ia"), F.col("tok").alias("w2"))
    c = tok.select("doc_id", (F.col("i") - 2).alias("ia"), F.col("tok").alias("w3"))
    return (
        a.join(b, ["doc_id", "ia"]).join(c, ["doc_id", "ia"])
        .groupBy(F.concat_ws(" ", "w1", "w2", "w3").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 3)
    )


@query("a4_context_flags", f"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM documents),
    tok AS (SELECT doc_id, toks[i] AS tok, i
            FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
    ctx AS (SELECT doc_id, tok, i,
                   lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
            FROM tok)
    SELECT tok AS token, count(*) AS n_occ,
           round(avg(CASE WHEN nxt IN {_STOPS} THEN 1.0 ELSE 0.0 END), 4)
               AS ctx_stop_ratio
    FROM ctx WHERE nxt IS NOT NULL
    GROUP BY tok HAVING count(*) >= 20
""")
def a4_context_flags(spark, sf_dir):
    """A4 (feature_extraction.h:209-250): per-pattern occurrence-context
    aggregates — here, the fraction of occurrences whose following token is
    a stopword. lead() window + groupBy avg, the same join-free shape the
    reference computes with its positional inverted index."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.expr("filter(split(text,' '), x -> x != '')"))
        .alias("i", "tok"))
    w = Window.partitionBy("doc_id").orderBy("i")
    ctx = tok.withColumn("nxt", F.lead("tok").over(w)).filter(
        F.col("nxt").isNotNull())
    stops = ("the", "a", "of", "in", "and", "is", "to")
    return (
        ctx.groupBy(F.col("tok").alias("token"))
        .agg(F.count(F.lit(1)).alias("n_occ"),
             F.round(F.avg(F.when(F.col("nxt").isin(*stops), 1.0)
                           .otherwise(0.0)), 4).alias("ctx_stop_ratio"))
        .filter(F.col("n_occ") >= 20)
    )


@query("a11_eval_pr", """
    WITH m AS (SELECT doc_id,
                      list_distinct(list_filter(string_split(text, ' '),
                                                x -> x LIKE 's%')) AS pred,
                      list_distinct(list_filter(string_split(text, ' '),
                                                x -> x LIKE '%e')) AS gold
               FROM documents)
    SELECT CAST(sum(len(pred)) AS BIGINT) AS sum_pred,
           CAST(sum(len(gold)) AS BIGINT) AS sum_gold,
           CAST(sum(len(list_intersect(pred, gold))) AS BIGINT) AS sum_correct
    FROM m
""")
def a11_eval_pr(spark, sf_dir):
    """A11 (utils.py:357-384 `compare`): precision/recall raw counts —
    per-doc predicted vs gold sets, array_intersect sizes, global sums.
    The driver-side P/R = sum_correct / sum_pred (resp. sum_gold)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        F.expr("array_distinct(filter(split(text,' '), x -> x like 's%'))")
        .alias("pred"),
        F.expr("array_distinct(filter(split(text,' '), x -> x like '%e'))")
        .alias("gold"),
    ).agg(
        F.sum(F.size("pred")).cast("bigint").alias("sum_pred"),
        F.sum(F.size("gold")).cast("bigint").alias("sum_gold"),
        F.sum(F.size(F.array_intersect("pred", "gold"))).cast("bigint")
        .alias("sum_correct"),
    )


@query("f8_regex_relation", """
    SELECT doc_id, regexp_extract(text, 'join [a-z]+') AS rel
    FROM documents WHERE regexp_extract(text, 'join [a-z]+') <> ''
""")
def f8_regex_relation(spark, sf_dir):
    """F8 (utils.py:52-57): regex relation matcher (`V+W*P | V+P | V | N+P`
    over POS strings in the reference) — the operator is regexp_extract over
    a concatenated token span; pattern simplified to the corpus vocabulary."""
    d = table(spark, sf_dir, "documents")
    rel = F.regexp_extract("text", "join [a-z]+", 0)
    return d.select("doc_id", rel.alias("rel")).filter(F.col("rel") != "")


@query("q6_revenue_delta", """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_delta,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      AND l_shipdate < TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
""")
def q6_revenue_delta(spark, sf_dir):
    """TPC-H Q6 shape: tight conjunctive predicate → single global agg.
    All four predicates push down to the parquet scan (PushedFilters);
    verifies pushdown + codegen on the fact table."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= "1994-01-01")
                  & (F.col("l_shipdate") < "1995-01-01")
                  & (F.col("l_discount").between(0.05, 0.07))
                  & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
             .alias("revenue_delta"),
             F.count(F.lit(1)).alias("n_rows"))
    )


@query("q3_order_revenue", """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(floor(epoch(any_value(o_orderdate))) AS BIGINT) AS order_epoch
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'O'
    GROUP BY l_orderkey
    ORDER BY revenue DESC, l_orderkey LIMIT 20
""")
def q3_order_revenue(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → fact join → agg → top-k
    (TakeOrderedAndProject, no global sort). Timestamps surface as epoch
    seconds per catalog convention."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(o.filter(F.col("o_orderstatus") == "O"),
                li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"),
             F.unix_timestamp(F.any_value("o_orderdate")).alias("order_epoch"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(20)
    )


@query("a5_range_window_join", """
    SELECT a.event_type, count(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id <> b.event_id
     AND abs(floor(epoch(a.ts)) - floor(epoch(b.ts))) <= 600
    GROUP BY a.event_type
""")
def a5_range_window_join(spark, sf_dir):
    """A5 (feature_extraction.h:299-344): the reference's ±2-sentence
    outside-context window as a range self-join — equi-key (user_id) plus a
    band predicate on event time. Implemented as the scalable time-bin
    equi-join: ts bucketed into 600s bins, the probe side registered at
    bin−1/bin/bin+1, the join strictly on (user_id, bin) — any pair within
    the 600s band differs by at most one bin, so each qualifying pair
    matches exactly one slot (no dedup needed) and the band filter is a
    post-predicate, never a per-key cross product. AQE skew-split covers
    hot users."""
    from pyspark.sql import functions as F
    e = table(spark, sf_dir, "events")
    a = (e.select("user_id", F.col("event_id").alias("ida"),
                  F.unix_timestamp("ts").alias("tsa"), "event_type")
         .withColumn("bin", F.floor(F.col("tsa") / 600)))
    b = (e.select("user_id", F.col("event_id").alias("idb"),
                  F.unix_timestamp("ts").alias("tsb"))
         .withColumn("b_bin", F.floor(F.col("tsb") / 600))
         .withColumn("bin", F.explode(F.array(
             F.col("b_bin") - 1, F.col("b_bin"), F.col("b_bin") + 1)))
         .drop("b_bin"))
    return (
        a.join(b, ["user_id", "bin"])
        .filter((F.col("ida") != F.col("idb"))
                & (F.abs(F.col("tsa") - F.col("tsb")) <= 600))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query("w6_asof_join", """
    SELECT p.event_id AS purchase_id, p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
           v.event_id AS view_id,
           CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS gap_s
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
""")
def w6_asof_join(spark, sf_dir):
    """As-of join — the classic time-series operator Spark lacks natively:
    each purchase matched to the user's most recent view at-or-before it.
    Composed from built-ins (the scalable formulation): union the two
    tagged streams, ONE shuffle on user_id, and a running
    last-non-null window carries the latest view forward — never a range
    self-join, never a per-key cross product. Ties at equal ts order the
    view before the purchase, matching ASOF's v.ts <= p.ts. (user_id, ts)
    is unique in the events table, so the match is deterministic."""
    e = table(spark, sf_dir, "events")
    ts = F.unix_timestamp("ts").cast("bigint")
    v = (e.filter(F.col("event_type") == "view")
         .select("user_id", ts.alias("t"), F.lit(0).alias("tag"),
                 F.col("event_id")))
    p = (e.filter(F.col("event_type") == "purchase")
         .select("user_id", ts.alias("t"), F.lit(1).alias("tag"),
                 F.col("event_id")))
    u = v.unionByName(p)
    w = (Window.partitionBy("user_id").orderBy("t", "tag")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    is_view = F.col("tag") == 0
    enriched = u.select(
        "*",
        F.last(F.when(is_view, F.col("event_id")), ignorenulls=True)
        .over(w).alias("view_id"),
        F.last(F.when(is_view, F.col("t")), ignorenulls=True)
        .over(w).alias("view_t"),
    )
    return (
        enriched.filter((F.col("tag") == 1) & F.col("view_id").isNotNull())
        .select(F.col("event_id").alias("purchase_id"), "user_id",
                F.col("t").alias("purchase_epoch"), "view_id",
                (F.col("t") - F.col("view_t")).cast("bigint").alias("gap_s"))
    )


@query("ht_rollup", """
    SELECT event_type,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_bucket,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
           CAST(grouping(CAST(floor(epoch(ts) / 3600) AS BIGINT)) AS INT)
               AS lvl,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY GROUPING SETS (
        (event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT),
         CAST(floor(epoch(ts) / 3600) AS BIGINT)),
        (event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT)))
""")
def ht_rollup(spark, sf_dir):
    """Hypertable-style multi-resolution rollup: hourly AND daily
    continuous-aggregate rows in ONE pass via GROUPING SETS — the
    timescale continuous-aggregate shape. Partial aggregation runs
    map-side for both resolutions before a single exchange; `lvl`
    (grouping bit) distinguishes hourly (0) from daily (1) rows, so a
    serving layer reads one partitioned table at either resolution."""
    e = table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    d = e.select(
        "event_type", "value",
        F.floor(epoch / 86400).cast("bigint").alias("day_bucket"),
        F.floor(epoch / 3600).cast("bigint").alias("hour_bucket"))
    return (
        d.groupingSets(
            [["event_type", "day_bucket", "hour_bucket"],
             ["event_type", "day_bucket"]],
            "event_type", "day_bucket", "hour_bucket")
        .agg(F.grouping("hour_bucket").cast("int").alias("lvl"),
             F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select("event_type", "day_bucket", "hour_bucket", "lvl",
                "n_events", "sum_value")
    )


@query("so3_union_pools", """
    SELECT nationkey, count(*) AS n_sources FROM (
        SELECT DISTINCT c_nationkey AS nationkey, 'c' AS src FROM customer
        UNION
        SELECT DISTINCT s_nationkey AS nationkey, 's' AS src FROM supplier)
    GROUP BY nationkey
""")
def so3_union_pools(spark, sf_dir):
    """SO3 (label_generation.h:100-109): union of pools with dedup."""
    from pyspark.sql import functions as F
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("c").alias("src")).distinct()
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("s").alias("src")).distinct()
    return (c.union(s).distinct()
            .groupBy("nationkey").agg(F.count(F.lit(1)).alias("n_sources")))


@query("so5_dedup_labels", """
    SELECT count(*) AS n_unique FROM (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
""")
def so5_dedup_labels(spark, sf_dir):
    """SO5 (label_generation.h:85-99 sort+unique): dropDuplicates →
    map-side partial distinct then exchange on the dedup key."""
    from pyspark.sql import functions as F
    li = table(spark, sf_dir, "lineitem")
    return (li.select("l_partkey", "l_suppkey").dropDuplicates()
            .agg(F.count(F.lit(1)).alias("n_unique")))


@query("f1_canonicalize", """
    SELECT lower(array_to_string(string_split(text, ' ')[1:2], '_')) AS canon,
           count(*) AS n_docs
    FROM documents GROUP BY 1 HAVING count(*) >= 2
""")
def f1_canonicalize(spark, sf_dir):
    """F1 (postprocessing.py:316,326-327): lowercase + underscore-join
    phrase canonicalization — the entity-canonicalization key function."""
    from pyspark.sql import functions as F
    d = table(spark, sf_dir, "documents")
    canon = F.lower(F.expr("array_join(slice(split(text, ' '), 1, 2), '_')"))
    return (d.select(canon.alias("canon"))
            .groupBy("canon").agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= 2))


@query("q18_large_orders", """
    SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
""")
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 inner shape: groupBy + HAVING on the aggregate (partial
    agg map-side; the HAVING cannot push below the agg — verified shape)."""
    from pyspark.sql import functions as F
    li = table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("raw_qty"))
            .filter(F.col("raw_qty") > 300)
            .select("l_orderkey", F.round("raw_qty", 2).alias("sum_qty")))
