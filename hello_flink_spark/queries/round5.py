"""Round-5 declared queries: analytics flagships, product analytics
over the event stream, and additional training-data-pipeline
operators (SURVEY §2.13/§2.12 extensions).

Registered after ``extras`` (registry module order) so the driver's
correctness-window rotation verifies older queries first.

Scale notes (the 100 TB contract) are per-op; the recurring shapes:
multi-way equi-joins left to Catalyst (broadcast dims, AQE), hash
aggregations with partial combine, windows partitioned by a real key
(never a global sort), 1-row scalar aggregates broadcast-cross-joined
into the plan instead of eager driver-side ``count()`` actions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hello_flink_spark.registry import register
from hello_flink_spark.sources.readers import load_table as t


# ---------------------------------------------------------------------------
# Analytics flagships (TPC-H Q3 / Q10 shapes — join-order stress)
# ---------------------------------------------------------------------------


@register(
    "flagship_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1996-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def flagship_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two fact joins → hash agg
    → top-N. Catalyst broadcasts the filtered customer side and pushes
    both date predicates into the parquet scans; the top-10 is a
    TakeOrderedAndProject (per-partition heap + driver merge), never a
    full sort. Tie-break on l_orderkey keeps the LIMIT deterministic."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp_ntz")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "flagship_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def flagship_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue-from-returns ranking. Four-way
    join where the 25-row nation dim broadcasts for free; the
    returnflag and date-range predicates push into the fact scans so
    only the relevant year's returned lines shuffle."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Statistical aggregates & window variants
# ---------------------------------------------------------------------------


@register(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 4) + 0.0 AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) + 0.0 AS qty_price_covar,
           ROUND(covar_pop(l_discount, l_tax), 6) + 0.0 AS disc_tax_covar_pop
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group (corr / covar_samp / covar_pop) —
    single-pass partial-aggregable moments, one shuffle of tiny
    (group, moment-tuple) rows regardless of input size. The ``+ 0.0``
    after each ROUND (both engines) canonicalizes IEEE negative zero:
    a statistic whose true value is ±1e-9 otherwise rounds to -0.0 in
    one engine and +0.0 in the other and fails the bit-exact hash."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + 0.0).alias(
            "qty_price_corr"
        ),
        (F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2) + 0.0).alias(
            "qty_price_covar"
        ),
        (F.round(F.covar_pop("l_discount", "l_tax"), 6) + 0.0).alias(
            "disc_tax_covar_pop"
        ),
    )


@register(
    "win_percent_rank",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(percent_rank() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice), 6) AS pct_rk,
           ROUND(cume_dist() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice), 6) AS cume
    FROM orders
    """,
)
def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions (percent_rank / cume_dist):
    value-determined (ties share a rank), so deterministic across
    engines without a row tiebreak. Partitioned by priority — no
    global sort."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rk"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "win_ratio_to_report",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(o_totalprice / SUM(o_totalprice)
                 OVER (PARTITION BY o_custkey), 6) AS price_share
    FROM orders
    """,
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order's share of its customer's total spend — the classic
    RATIO_TO_REPORT, expressed as value / unordered partition SUM
    (no ORDER BY → no per-partition sort, just a windowed hash agg)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") / F.sum("o_totalprice").over(w), 6).alias(
            "price_share"
        ),
    )


# ---------------------------------------------------------------------------
# Product analytics over the event stream (batch shadows)
# ---------------------------------------------------------------------------


@register(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day FROM events)
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, active_day) AS BIGINT) AS day_offset,
           COUNT(*) AS active_users
    FROM activity JOIN firsts USING (user_id)
    GROUP BY cohort_day, day_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day,
    counted per day-offset of later activity. Two hash aggs + one
    equi-join on user_id — the join key is the natural partitioner, so
    at scale both sides co-shuffle once and nothing is quadratic."""
    e = t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    firsts = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = e.select("user_id", day.alias("active_day")).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.to_date("active_day"), F.to_date("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id)
    SELECT COUNT(t_view) AS viewed,
           CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
             AS clicked_after_view,
           CAST(SUM(CASE WHEN t_purchase > t_click AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS purchased_after_funnel
    FROM per_user
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel as conditional MIN-per-step
    aggregation (one shuffle keyed by user) followed by a global
    1-row reduce — the set-semantics funnel every product-analytics
    store offers, with no per-user sorting or CEP state needed."""
    e = t(spark, sf_dir, "events")

    def step(evt: str):
        return F.min(F.when(F.col("event_type") == evt, F.col("ts")))

    per_user = e.groupBy("user_id").agg(
        step("view").alias("t_view"),
        step("click").alias("t_click"),
        step("purchase").alias("t_purchase"),
    )
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return per_user.agg(
        F.count("t_view").alias("viewed"),
        one_if(F.col("t_click") > F.col("t_view")).alias("clicked_after_view"),
        one_if(
            (F.col("t_purchase") > F.col("t_click"))
            & (F.col("t_click") > F.col("t_view"))
        ).alias("purchased_after_funnel"),
    )


@register(
    "attribution_first_touch",
    oracle="""
    WITH firsts AS (
      SELECT user_id, event_type AS first_touch FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events) WHERE rn = 1),
    purchases AS (SELECT user_id FROM events WHERE event_type = 'purchase')
    SELECT first_touch, COUNT(*) AS purchases
    FROM purchases JOIN firsts USING (user_id)
    GROUP BY first_touch
    """,
)
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase credited to the user's
    earliest event type (event_id tiebreak for determinism). The
    per-user window is partitioned by user_id — scales with users, no
    global ordering."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_touch"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id")
    return (
        purchases.join(firsts, "user_id")
        .groupBy("first_touch")
        .agg(F.count(F.lit(1)).alias("purchases"))
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_start, COUNT(*) AS cnt
      FROM events GROUP BY event_type, hour_start),
    stats AS (
      SELECT event_type, AVG(cnt) AS mu, stddev_samp(cnt) AS sigma
      FROM hourly GROUP BY event_type)
    SELECT h.event_type, hour_start, cnt,
           ROUND((cnt - mu) / sigma, 4) AS z
    FROM hourly h JOIN stats s ON h.event_type = s.event_type
    WHERE sigma IS NOT NULL AND sigma > 0
      AND ABS((cnt - mu) / sigma) >= 2.0
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hourly event counts z-scored against
    each type's own mean/stddev; |z| ≥ 2 flags the anomalous hours.
    The stats side is one row per event type — broadcast back over the
    hourly aggregate, so the heavy pass over raw events happens
    exactly once.

    sigma=0 guard (ADVICE r05): a type with CONSTANT hourly counts has
    stddev 0 — Spark's double 0/0 is NaN and `NaN >= 2.0` is TRUE in
    Spark's total ordering (row kept, z=NaN) while DuckDB's 0/0 is
    NULL (row dropped). Both engines now filter sigma > 0 explicitly,
    and a degenerate type yields no anomaly rows — the statistically
    honest answer (a constant series has no z-score)."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("cnt").alias("mu"), F.stddev_samp("cnt").alias("sigma")
    )
    z = (F.col("cnt") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter(F.col("sigma").isNotNull() & (F.col("sigma") > 0) & (F.abs(z) >= 2.0))
        .select("event_type", "hour_start", "cnt", F.round(z, 4).alias("z"))
    )


# ---------------------------------------------------------------------------
# Training-data pipeline extensions (SURVEY §2.12)
# ---------------------------------------------------------------------------


@register(
    "text_repetition_ratio",
    oracle="""
    SELECT doc_id,
           CAST(len(tokens) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(tokens)) AS BIGINT) AS n_distinct,
           ROUND(1.0 - CAST(len(list_distinct(tokens)) AS DOUBLE)
                 / len(tokens), 6) AS repetition
    FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens
          FROM documents)
    WHERE len(tokens) > 0
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (1 − distinct/total tokens): highly
    repetitive documents are a standard LLM-pretraining filter. Pure
    per-row array expressions — embarrassingly parallel, no shuffle."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    out = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.round(
            1.0 - F.size(F.array_distinct(toks)) / F.size(toks).cast("double"), 6
        ).alias("repetition"),
    )
    return out.filter(F.col("n_tokens") > 0)


@register(
    "text_passage_dedup",
    oracle="""
    WITH chunks AS (
      SELECT DISTINCT doc_id,
             array_to_string(tokens[(i - 1) * 5 + 1 : i * 5], ' ') AS chunk
      FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens
            FROM documents),
           UNNEST(generate_series(1, CAST(floor(len(tokens) / 5) AS BIGINT)))
             AS u(i))
    SELECT md5(chunk) AS chunk_hash, COUNT(*) AS n_docs,
           MIN(doc_id) AS first_doc
    FROM chunks
    GROUP BY chunk HAVING COUNT(*) > 1
    """,
)
def text_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup: documents chunked into consecutive
    5-token passages; passages appearing in more than one document are
    reported with their md5 key and earliest doc. The scalable shape —
    explode to (passage, doc), distinct, hash-agg on the passage — is
    the same single-shuffle plan exact doc-dedup uses, just at passage
    granularity (how large corpora de-boilerplate)."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    n_chunks = F.floor(F.size(toks) / 5).cast("int")
    idx = F.when(n_chunks >= 1, F.sequence(F.lit(1), n_chunks)).otherwise(
        F.array().cast("array<int>")
    )
    chunks = (
        d.select("doc_id", toks.alias("tokens"), idx.alias("idx"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.col("idx"),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("tokens"), (i - 1) * 5 + 1, 5)
                    ),
                )
            ).alias("chunk"),
        )
        .distinct()
    )
    return (
        chunks.groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") > 1)
        .select(F.md5("chunk").alias("chunk_hash"), "n_docs", "first_doc")
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH words AS (
      SELECT doc_id, UNNEST(string_split(lower(trim(text)), ' ')) AS word
      FROM documents),
    vocab AS (SELECT word, COUNT(*) AS cnt FROM words GROUP BY word),
    total AS (SELECT COUNT(*) AS n FROM words)
    SELECT doc_id, ROUND(AVG(ln(CAST(cnt AS DOUBLE) / n)), 4) AS avg_logprob
    FROM words JOIN vocab USING (word) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring (perplexity proxy): corpus word
    frequencies → per-token ln p(w) → per-document average. The
    quality-scoring tier above heuristics: cheap, corpus-calibrated,
    and fully expression-based. Vocabulary joins by word (shuffle on
    the token key scales with vocabulary, not corpus); the 1-row
    corpus total rides the plan as a broadcast scalar."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = words.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        words.join(vocab, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log(F.col("cnt").cast("double") / F.col("n"))), 4).alias(
                "avg_logprob"
            )
        )
    )


@register(
    "docs_pack_batches",
    oracle="""
    SELECT doc_id, source,
           CAST(FLOOR((SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_chars) / 8000.0) AS BIGINT) AS batch_id
    FROM documents
    """,
)
def docs_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget batch packing: docs fill sequential ~8000-char
    batches per source (batch = the cumulative start offset's bucket —
    the deterministic greedy-fill used to pack training shards).
    The running sum is partitioned by source, so the sort is per-key,
    never global; at 100 TB each source packs independently in
    parallel."""
    d = t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start_offset = F.sum("n_chars").over(w) - F.col("n_chars")
    return d.select(
        "doc_id",
        "source",
        F.floor(start_offset / 8000.0).cast("long").alias("batch_id"),
    )


@register(
    "data_mixture_balanced",
    oracle="""
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    quota AS (SELECT MIN(n) AS q FROM counts),
    ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents)
    SELECT doc_id, source FROM ranked CROSS JOIN quota WHERE rn <= q
    """,
)
def data_mixture_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-balanced mixture plan: every source contributes exactly
    the smallest source's document count (deterministic doc_id order,
    not random — reproducible training mixes). The per-source quota is
    a 1-row broadcast scalar in the plan; the window is partitioned by
    source. Swap the MIN quota for per-source weight targets and the
    plan shape is unchanged."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    quota = counts.agg(F.min("n").alias("q"))
    w = Window.partitionBy("source").orderBy("doc_id")
    ranked = d.select(
        "doc_id", "source", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.crossJoin(F.broadcast(quota))
        .filter(F.col("rn") <= F.col("q"))
        .select("doc_id", "source")
    )


def _containment_oracle_sql() -> str:
    from hello_flink_spark.queries.llm import NGRAM_SHINGLES_SQL

    return f"""
    WITH sh AS ({NGRAM_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS both_cnt
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b,
           ROUND(CAST(both_cnt AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(both_cnt AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8
    """


@register("dedup_containment", oracle=_containment_oracle_sql())
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT detection: |A∩B| / min(|A|,|B|) ≥ 0.8 over the
    df-capped 3-gram shingle sets — catches a document embedded inside
    a larger one, which symmetric Jaccard misses (a ⊂ b with |b|≫|a|
    has low Jaccard but containment ≈ 1). Same sub-quadratic
    shingle-equi-join skeleton as dedup_ngram_jaccard, different
    denominator — and the same round-17 shape: the shingle frame
    materializes once and the pair counts come from the grouped
    single-shuffle enumeration (joins.pair_counts) instead of the
    two-shuffle self-join; output identical row-for-row. A corpus of
    at most scale.HOT_BROADCAST_MAX shingle rows is counted on the driver
    (``llm._shingle_overlap_rows``); the containment filter and
    rounding stay Spark expressions."""
    from hello_flink_spark.queries.llm import _shingle_overlap, _shingle_overlap_rows

    d = t(spark, sf_dir, "documents")
    overlap = _shingle_overlap(d, _shingle_overlap_rows(d))
    containment = _containment()
    return overlap.filter(containment >= 0.8).select(
        "doc_a", "doc_b", F.round(containment, 6).alias("containment")
    )


def _containment():
    """|A∩B| / min(|A|, |B|) over a ``llm._shingle_overlap`` frame."""
    return F.col("both_cnt").cast("double") / F.least(F.col("n_a"), F.col("n_b"))


# ---------------------------------------------------------------------------
# Round-5 batch 2: statistical / dedup-reporting / corpus-calibration ops
# ---------------------------------------------------------------------------


@register(
    "agg_mode_deterministic",
    oracle="""
    SELECT event_type, user_id AS modal_user, cnt FROM (
      SELECT event_type, user_id, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY COUNT(*) DESC, user_id) AS rn
      FROM events GROUP BY event_type, user_id)
    WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE with pinned tie-break: the most frequent value per group
    (here: each event type's most active user), ties resolved by min
    value — engines disagree on bare mode()'s tie order, so the
    deterministic formulation is count-agg → partitioned rank-1.
    Two shuffles of already-aggregated rows; never the raw stream."""
    e = t(spark, sf_dir, "events")
    counts = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(F.col("cnt").desc(), "user_id")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("user_id").alias("modal_user"), "cnt")
    )


@register(
    "dedup_exact_keep_best",
    oracle="""
    WITH h AS (
      SELECT doc_id, n_chars, sha256(lower(trim(text))) AS norm_hash
      FROM documents),
    ranked AS (
      SELECT doc_id, n_chars, norm_hash,
             ROW_NUMBER() OVER (PARTITION BY norm_hash
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY norm_hash) AS n_copies
      FROM h)
    SELECT norm_hash, n_copies, doc_id AS kept_doc
    FROM ranked WHERE rn = 1
    """,
)
def dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup that keeps the BEST copy per content group, not the
    first: rank within each content-hash group by a quality key
    (n_chars here; source priority / quality score in a real corpus)
    with doc_id tie-break, and emit the full keep-list (n_copies > 1
    marks the groups that actually had duplicates). One shuffle on the
    hash key; the window is partitioned by that same key, so rank +
    group-count share it."""
    d = t(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", "n_chars", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("norm_hash")
    )
    w = Window.partitionBy("norm_hash").orderBy(F.col("n_chars").desc(), "doc_id")
    wc = Window.partitionBy("norm_hash")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select("norm_hash", "n_copies", F.col("doc_id").alias("kept_doc"))
    )


@register(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4)
             AS qty_weighted_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount))
                 / SUM(l_extendedprice), 6) AS effective_price_ratio
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted averages per group (sum(w·x)/sum(w)) — the aggregate
    plain AVG silently gets wrong; expressed as two partial-aggregable
    SUMs so the map side combines before the shuffle."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
            / F.sum("l_quantity"),
            4,
        ).alias("qty_weighted_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            / F.sum("l_extendedprice"),
            6,
        ).alias("effective_price_ratio"),
    )


@register(
    "vocab_coverage",
    oracle="""
    WITH words AS (
      SELECT doc_id, UNNEST(string_split(lower(trim(text)), ' ')) AS word
      FROM documents),
    vocab AS (
      SELECT word FROM (
        SELECT word, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) AS rn
        FROM words GROUP BY word)
      WHERE rn <= 100)
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           ROUND(CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS oov_ratio
    FROM words w LEFT JOIN vocab v USING (word)
    GROUP BY doc_id
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer/vocabulary coverage: per-document out-of-vocabulary
    ratio against the corpus top-100 words — the calibration step
    before committing a tokenizer to a corpus. The top-K rank runs
    over the DISTINCT VOCABULARY (bounded by language, not corpus
    rows), so the unpartitioned window is scale-independent; the
    resulting vocab list broadcasts into the word-level left join."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word")
    )
    wv = Window.orderBy(F.col("cnt").desc(), "word")
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") <= 100)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    joined = words.join(F.broadcast(vocab), "word", "left")
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        oov.cast("long").alias("n_oov"),
        F.round(oov.cast("double") / F.count(F.lit(1)), 6).alias("oov_ratio"),
    )


@register(
    "docs_length_percentile_filter",
    oracle="""
    WITH bounds AS (
      SELECT quantile_cont(n_chars, 0.05) AS lo,
             quantile_cont(n_chars, 0.95) AS hi
      FROM documents)
    SELECT doc_id, n_chars FROM documents CROSS JOIN bounds
    WHERE n_chars >= lo AND n_chars <= hi
    """,
)
def docs_length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-outlier filtering: keep documents inside the corpus's own
    [p5, p95] length band — the self-calibrating version of fixed
    min/max length cutoffs. The two exact percentiles are a 1-row
    aggregate broadcast back over the scan (same in-plan-scalar shape
    as text_tfidf_sql); swap in percentile_approx at 100 TB for a
    bounded-memory sketch."""
    d = t(spark, sf_dir, "documents")
    bounds = d.agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    return (
        d.crossJoin(F.broadcast(bounds))
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "n_chars")
    )


@register(
    "agg_yoy_growth",
    oracle="""
    WITH yearly AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY yr)
    SELECT yr, revenue,
           ROUND(100.0 * (revenue - LAG(revenue) OVER (ORDER BY yr))
                 / LAG(revenue) OVER (ORDER BY yr), 4) AS yoy_pct
    FROM yearly
    """,
)
def agg_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth: yearly revenue rollup + LAG ratio. The
    unpartitioned LAG runs over the YEARLY aggregate (a handful of
    rows regardless of input size — scale-independent input, like
    sort's bucket table), never the raw orders."""
    o = t(spark, sf_dir, "orders")
    yearly = o.groupBy(F.year("o_orderdate").cast("long").alias("yr")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w = Window.orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "yr",
        "revenue",
        F.round(100.0 * (F.col("revenue") - prev) / prev, 4).alias("yoy_pct"),
    )


@register(
    "agg_json_props",
    oracle="""
    SELECT event_type,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
             AS k_avg,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_min,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_max
    FROM events GROUP BY event_type
    """,
)
def agg_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured aggregation: numeric field extracted from the
    JSON props payload, aggregated per event type — the
    parse-then-aggregate shape of schemaless telemetry. Extraction is
    a JVM expression (get_json_object), so the scan stays codegen'd;
    at 100 TB prefer materializing hot JSON fields to columns at
    ingest (the documents/events tables model exactly that)."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("k_avg"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
    )


# ---------------------------------------------------------------------------
# Round-5 batch 3: semantics-gap fillers (null-safe join, by-name union,
# running distinct, regex family, JSON sink, dedup reporting)
# ---------------------------------------------------------------------------


@register(
    "join_nullsafe",
    oracle="""
    WITH l AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END
               AS status_key
      FROM orders),
    r AS (
      SELECT DISTINCT
             CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END
               AS status_key,
             o_orderstatus AS matched_status
      FROM orders)
    SELECT matched_status, COUNT(*) AS cnt
    FROM l JOIN r ON l.status_key IS NOT DISTINCT FROM r.status_key
    GROUP BY matched_status
    """,
)
def join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of silently dropping — the semantics a
    plain join loses (here the 'O' status is nulled on both sides and
    still joins). Spark plans eqNullSafe as a regular hash join on the
    null-safe key, so the scale shape is identical to join_inner."""
    o = t(spark, sf_dir, "orders")
    null_key = F.when(F.col("o_orderstatus") == "O", None).otherwise(
        F.col("o_orderstatus")
    )
    left = o.select("o_orderkey", null_key.alias("status_key"))
    right = (
        o.select(
            null_key.alias("r_status_key"),
            F.col("o_orderstatus").alias("matched_status"),
        )
        .distinct()
    )
    return (
        left.join(right, F.col("status_key").eqNullSafe(F.col("r_status_key")))
        .groupBy("matched_status")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "union_by_name_missing",
    oracle="""
    SELECT id, name, acctbal, origin FROM (
      SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
             'customer' AS origin
      FROM customer
      UNION ALL BY NAME
      SELECT s_suppkey AS id, s_name AS name, 'supplier' AS origin
      FROM supplier)
    """,
)
def union_by_name_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two sources with different column sets
    combined BY NAME, absent columns NULL-filled
    (unionByName(allowMissingColumns=True) == DuckDB UNION ALL BY
    NAME) — how a pipeline appends a feed that gained or lost columns
    without positional breakage."""
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("origin"),
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.lit("supplier").alias("origin"),
    )
    return c.unionByName(s, allowMissingColumns=True).select(
        "id", "name", "acctbal", "origin"
    )


@register(
    "win_distinct_running",
    oracle="""
    WITH flagged AS (
      SELECT event_id, event_type, ts,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS is_new
      FROM events)
    SELECT event_id, event_type,
           CAST(SUM(is_new) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS distinct_users_so_far
    FROM flagged
    """,
)
def win_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — unsupported directly in
    both engines, expressed exactly: flag each (type, user)'s first
    event via a fine-partitioned row_number, then a running SUM of
    flags per type. EXACT semantics demo: the per-type running sum is
    sequential by construction, so at 100 TB the production substitute
    is the mergeable-sketch tier (agg_hll_mergeable) over windowed
    buckets; the flag pass itself scales fine (partitioned by
    type × user)."""
    e = t(spark, sf_dir, "events")
    w_first = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "event_id",
        "event_type",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("is_new"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.select(
        "event_id",
        "event_type",
        F.sum("is_new").over(w_run).cast("long").alias("distinct_users_so_far"),
    )


@register(
    "fn_regex",
    oracle="""
    SELECT c_custkey,
           regexp_replace(c_name, '[0-9]', 'x', 'g') AS masked,
           CAST(len(regexp_extract_all(c_name, '[0-9]')) AS BIGINT) AS digit_cnt,
           regexp_matches(c_name, '00') AS has_double_zero,
           string_split_regex(c_name, '[#0-9]+')[1] AS stem
    FROM customer
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function family beyond extract (covered in fn_string):
    replace-all, match-count, boolean match (rlike), regex split.
    All JVM expressions inside codegen — the text-wrangling workhorses
    of ingest pipelines."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]", "x").alias("masked"),
        F.size(F.regexp_extract_all("c_name", F.lit("[0-9]"), 0)).cast("long").alias(
            "digit_cnt"
        ),
        F.col("c_name").rlike("00").alias("has_double_zero"),
        F.split("c_name", "[#0-9]+").getItem(0).alias("stem"),
    )


@register(
    "sink_json",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 200
    """,
)
def sink_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] FileSink, JSON-lines format (completes the sink family next
    to parquet/csv): filtered projection written as JSONL, read back
    with an explicit schema — checks the text round-trip of nested-free
    records the way streaming sinks emit them."""
    from hello_flink_spark.queries.sources import _ensure, _fixture_dir

    out = _ensure(
        _fixture_dir(sf_dir, "sink_json_out"),
        lambda p: t(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 200)
        .select("doc_id", "lang", "n_chars")
        .coalesce(1)
        .write.mode("overwrite")
        .json(p),
    )
    return spark.read.schema("doc_id bigint, lang string, n_chars bigint").json(out)


def _cluster_stats_oracle_sql() -> str:
    from hello_flink_spark.queries.llm import NGRAM_SHINGLES_SQL

    return f"""
    WITH RECURSIVE
    sh AS ({NGRAM_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS both_cnt
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(both_cnt AS DOUBLE) / (sa.n + sb.n - both_cnt) >= 0.5),
    edges AS (
      SELECT doc_a, doc_b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(doc_id, r) AS (
      SELECT doc_a, doc_a FROM edges
      UNION
      SELECT rc.doc_id, e.doc_b FROM reach rc JOIN edges e ON e.doc_a = rc.r),
    labels AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
    csizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
               FROM labels GROUP BY cluster_id)
    SELECT cluster_size, COUNT(*) AS n_clusters
    FROM csizes GROUP BY cluster_size
    """


@register("dedup_cluster_stats", oracle=_cluster_stats_oracle_sql())
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup REPORTING: the cluster-size distribution of the near-dup
    component graph (how much of the corpus is duplicated, and in what
    clump sizes — the first chart any dedup run is judged by).
    Composes dedup_cluster's convergent connected components with two
    tiny hash aggs over the label table."""
    from hello_flink_spark.queries.extras import dedup_cluster

    labels = dedup_cluster(spark, sf_dir)
    csizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return csizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


# ---------------------------------------------------------------------------
# Round-5 batch 4: TPC-H-shape flagships (Q4/Q14/Q18/Q19/Q22) + corpus
# and event analytics
# ---------------------------------------------------------------------------


@register(
    "flagship_promo_revenue",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4)
             AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-03-01'
    """,
)
def flagship_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share — a conditional
    aggregate over a fact × dim join with a tight date band. The date
    predicate pushes into the lineitem scan. `part` SCALES with the
    data (SF·200k rows — billions at 100 TB), so the join carries no
    broadcast hint: AQE broadcasts at small SF and shuffle-joins at
    scale, both correct."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-03-01").cast("timestamp_ntz"))
    )
    p = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct")
        )
    )


@register(
    "flagship_priority_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def flagship_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order counts per priority where EXISTS a
    qualifying line — the date band prunes the orders scan, the EXISTS
    becomes a left-semi hash join (each order tested once, no
    multiplicity blow-up), then a tiny hash agg."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "flagship_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
    SELECT c_name, o_orderkey, ROUND(o_totalprice, 2) AS totalprice,
           ROUND(total_qty, 2) AS total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def flagship_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — pre-aggregate lineitem to
    per-order quantity (map-side combine does most of the work), HAVING
    filter shrinks it to the big tail, then two equi-joins pull in the
    order and customer attributes. The agg-before-join ordering is the
    scale decision: joining first would shuffle every line."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


@register(
    "flagship_disjunctive",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS line_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def flagship_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicates spanning both join sides.
    Catalyst extracts the common join key (equi hash join survives the
    disjunction) and pushes the per-side disjuncts (brand/size on part,
    quantity on lineitem) below the join as partial filters. `part`
    scales with the data, so no broadcast hint — AQE decides."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    joined = li.join(p, F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("line_cnt"),
    )


@register(
    "flagship_idle_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0)
    SELECT c_nationkey AS cntry, COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer CROSS JOIN avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY cntry
    """,
)
def flagship_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers gone IDLE (no order since
    2000 — this fixture gives nearly every customer some order, so the
    original never-ordered criterion is empty) — 1-row average-balance
    scalar broadcast into the plan, NOT EXISTS as a left-anti hash
    join against the date-pruned recent orders, then a per-nation
    rollup. Anti join + in-plan scalar are the two shapes this
    flagship pins under the bench gate."""
    c = t(spark, sf_dir, "customer")
    recent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "events_heatmap_dow_hour",
    oracle="""
    SELECT CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY dow, hr
    """,
)
def events_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: event volume by day-of-week × hour-of-day —
    the seasonality profile behind capacity planning. One hash agg
    over derived calendar keys (Spark dayofweek is 1=Sunday, DuckDB
    dow is 0=Sunday — normalized by subtracting 1)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hr"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "orders_rfm_segments",
    oracle="""
    WITH maxd AS (SELECT MAX(o_orderdate) AS mx FROM orders),
    cust AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate), mx) AS recency,
             COUNT(*) AS freq,
             SUM(o_totalprice) AS monetary
      FROM orders CROSS JOIN maxd GROUP BY o_custkey, mx),
    cuts AS (
      SELECT quantile_cont(recency, 0.25) AS r1, quantile_cont(recency, 0.5) AS r2,
             quantile_cont(recency, 0.75) AS r3,
             quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
             quantile_cont(freq, 0.75) AS f3,
             quantile_cont(monetary, 0.25) AS m1, quantile_cont(monetary, 0.5) AS m2,
             quantile_cont(monetary, 0.75) AS m3
      FROM cust)
    SELECT CAST(1 + CAST(recency > r1 AS INT) + CAST(recency > r2 AS INT)
                + CAST(recency > r3 AS INT) AS BIGINT) AS r,
           CAST(1 + CAST(freq > f1 AS INT) + CAST(freq > f2 AS INT)
                + CAST(freq > f3 AS INT) AS BIGINT) AS f,
           CAST(1 + CAST(monetary > m1 AS INT) + CAST(monetary > m2 AS INT)
                + CAST(monetary > m3 AS INT) AS BIGINT) AS m,
           COUNT(*) AS n_customers
    FROM cust CROSS JOIN cuts
    GROUP BY r, f, m
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation with SCALABLE quartile assignment:
    instead of three global NTILE sorts (unpartitioned windows — the
    anti-pattern), the quartile cut points are one 1-row percentile
    aggregate broadcast back over the per-customer table, and each
    dimension buckets by comparison. Value-based cuts are also
    cross-engine deterministic where NTILE's positional ties are not."""
    o = t(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("mx"))
    cust = (
        o.crossJoin(F.broadcast(maxd))
        .groupBy("o_custkey", "mx")
        .agg(
            F.datediff(F.to_date("mx"), F.to_date(F.max("o_orderdate")))
            .alias("recency"),
            F.count(F.lit(1)).alias("freq"),
            F.sum("o_totalprice").alias("monetary"),
        )
    )
    cuts = cust.agg(
        *[
            F.expr(f"percentile({col}, {q})").alias(f"{col[0]}{i}")
            for col in ("recency", "freq", "monetary")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )
    def bucket(col: str):
        v = F.col(col)
        k = col[0]
        return (
            1
            + (v > F.col(f"{k}1")).cast("int")
            + (v > F.col(f"{k}2")).cast("int")
            + (v > F.col(f"{k}3")).cast("int")
        ).cast("long")

    return (
        cust.crossJoin(F.broadcast(cuts))
        .groupBy(
            bucket("recency").alias("r"),
            bucket("freq").alias("f"),
            bucket("monetary").alias("m"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "text_zipf_profile",
    oracle="""
    WITH words AS (
      SELECT UNNEST(string_split(lower(trim(text)), ' ')) AS word
      FROM documents),
    vocab AS (SELECT word, COUNT(*) AS cnt FROM words GROUP BY word)
    SELECT word, CAST(rn AS BIGINT) AS rank, cnt,
           ROUND(ln(CAST(rn AS DOUBLE)), 6) AS ln_rank,
           ROUND(ln(CAST(cnt AS DOUBLE)), 6) AS ln_cnt
    FROM (SELECT word, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rn
          FROM vocab)
    WHERE rn <= 20
    """,
)
def text_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf profile of the corpus: top-20 word frequencies with log-log
    coordinates (the sanity plot of any tokenization run — natural text
    is near-linear, word-soup fixtures are flat). The rank window runs
    over the distinct VOCABULARY, not corpus rows — scale-independent
    like vocab_coverage."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), "word")
    return (
        vocab.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(
            "word",
            F.col("rn").cast("long").alias("rank"),
            "cnt",
            F.round(F.log(F.col("rn").cast("double")), 6).alias("ln_rank"),
            F.round(F.log(F.col("cnt").cast("double")), 6).alias("ln_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# Round-5 batch 5: sequence, basket, embedding-QA, keyword analytics
# ---------------------------------------------------------------------------


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type, COUNT(*) AS cnt,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 6) AS p
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (the sequence-modeling prep step): LAG within each
    user's timeline, pair counts, row-normalized into transition
    probabilities. The LAG window is partitioned by user; the
    normalizing window runs over the TRANSITION-MATRIX aggregate
    (|event types|² rows — scale-independent)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "cnt",
        F.round(F.col("cnt").cast("double") / F.sum("cnt").over(wp), 6).alias("p"),
    )


@register(
    "orders_basket_pairs",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS cooccur
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    HAVING COUNT(*) >= 3
    """,
)
def orders_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in
    ≥ 3 orders (the frequent-itemset candidate pass). The part
    co-purchase edge set (``graph.copurchase_edges``) at a count of 3:
    the fan-out per order is bounded by BASKET SIZE squared, never
    corpus², and the pair counts hash-aggregate with map-side
    combine."""
    from hello_flink_spark.operators.graph import copurchase_edges

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return copurchase_edges(li, 3).select(
        F.col("pa").alias("part_a"), F.col("pb").alias("part_b"), "cooccur"
    )


@register(
    "embeddings_norm_stats",
    oracle="""
    SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n,
           ROUND(AVG(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[])))), 6)
             AS mean_norm,
           ROUND(stddev_samp(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                     CAST(embedding AS DOUBLE[])))), 6)
             AS std_norm
    FROM embeddings GROUP BY label
    """,
)
def embeddings_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality monitoring: L2-norm mean/std per label —
    collapsed or exploding norms are the first sign of a bad encoder
    batch. Pure array-lambda dot product (JVM, no Python) + one hash
    agg."""
    from hello_flink_spark.queries.llm import _as_double, _dot

    e = t(spark, sf_dir, "embeddings")
    vec = _as_double(F.col("embedding"))
    norm = F.sqrt(_dot(vec, vec))
    return (
        e.select(F.col("label").cast("long").alias("label"), norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("nrm"), 6).alias("mean_norm"),
            F.round(F.stddev_samp("nrm"), 6).alias("std_norm"),
        )
    )


@register(
    "text_keyword_extract",
    oracle="""
    WITH words AS (
      SELECT doc_id, UNNEST(string_split(lower(trim(text)), ' ')) AS word
      FROM documents),
    doc_len AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY doc_id),
    tfs AS (SELECT doc_id, word, COUNT(*) AS cnt FROM words GROUP BY doc_id, word),
    dfs AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY word),
    n_total AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.word,
             ROUND((CAST(t.cnt AS DOUBLE) / doc_len.n)
                   * ln(CAST(n_docs AS DOUBLE) / dfs.df), 6) AS tfidf
      FROM tfs t
      JOIN doc_len USING (doc_id)
      JOIN dfs USING (word)
      CROSS JOIN n_total)
    SELECT doc_id, word, tfidf, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, word) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def text_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-3 most distinctive words
    by TF-IDF (the summarization/tagging primitive on top of
    text_tfidf_sql's scoring). Ranking uses the ROUNDED score with a
    word tie-break, so sub-1e-6 float noise between engines cannot
    reorder the cut (the sim_knn rule). The rank window is partitioned
    per document. The vocabulary-sized df table joins without a
    broadcast hint — AQE decides from runtime stats (VERDICT r05)."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word")
    )
    doc_len = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    tfs = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    dfs = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_total = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tfs.join(doc_len, "doc_id")
        .join(dfs, "word")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            "word",
            F.round(
                (F.col("cnt").cast("double") / F.col("n"))
                * F.log(F.col("n_docs") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
    )


@register(
    "events_value_ecdf",
    oracle="""
    SELECT event_type, CAST(decile AS BIGINT) AS decile,
           ROUND(q, 4) AS value_at
    FROM (
      SELECT event_type,
             UNNEST(quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                          0.6, 0.7, 0.8, 0.9])) AS q,
             UNNEST(generate_series(1, 9)) AS decile
      FROM events GROUP BY event_type)
    """,
)
def events_value_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value distribution profile: the nine deciles of each
    event type's value, computed as ONE percentile-vector aggregate
    per group then exploded to (type, decile, value) rows — one pass
    over the data for the whole ECDF sketch instead of nine."""
    e = t(spark, sf_dir, "events")
    qs = ", ".join(str(q / 10) for q in range(1, 10))
    deciles = e.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({qs}))").alias("qarr")
    )
    return deciles.select(
        "event_type",
        F.posexplode("qarr").alias("pos", "q"),
    ).select(
        "event_type",
        (F.col("pos") + 1).cast("long").alias("decile"),
        F.round("q", 4).alias("value_at"),
    )


# ---------------------------------------------------------------------------
# Round-5 batch 6: datetime arithmetic, inter-event gaps, dedup reporting
# by source, user activity profiles
# ---------------------------------------------------------------------------


@register(
    "fn_datetime_arith",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 30 DAY AS due_30d,
           o_orderdate + INTERVAL 2 MONTH AS plus_2mo,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01')
                AS BIGINT) AS days_to_2002
    FROM orders
    """,
)
def fn_datetime_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime ARITHMETIC family (fn_date covers extraction): interval
    addition (day and calendar-aware month), month-end snapping, and
    day distance to a fixed horizon — all JVM expressions; both engines
    clamp month-overflow (Jan 31 + 1 month → Feb 28) identically."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_30d"),
        (F.col("o_orderdate") + F.expr("INTERVAL 2 MONTH")).alias("plus_2mo"),
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.to_date("o_orderdate")
        ).cast("long").alias("days_to_2002"),
    )


@register(
    "events_gap_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id))
               AS gap_us
      FROM events)
    SELECT user_id, COUNT(gap_us) AS n_gaps,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           ROUND(AVG(gap_us), 2) AS avg_gap_us
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
)
def events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap statistics per user (the sessionization design
    input: gap distributions justify the session timeout). Epoch-micro
    subtraction, NOT second-truncated casts — DuckDB's
    date_diff('second') and a cast-to-long each truncate differently
    around sub-second boundaries; micros agree exactly. One
    user-partitioned LAG + one hash agg."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = e.select(
        "user_id", (us - F.unix_micros(F.lag("ts").over(w))).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        F.round(F.avg("gap_us"), 2).alias("avg_gap_us"),
    )


def _dup_rate_oracle_sql() -> str:
    from hello_flink_spark.queries.llm import NGRAM_SHINGLES_SQL

    return f"""
    WITH sh AS ({NGRAM_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS both_cnt
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(both_cnt AS DOUBLE) / (sa.n + sb.n - both_cnt) >= 0.5),
    dup_docs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION SELECT doc_b AS doc_id FROM pairs))
    SELECT source, COUNT(*) AS n_docs,
           CAST(COUNT(d.doc_id) AS BIGINT) AS n_dup,
           ROUND(CAST(COUNT(d.doc_id) AS DOUBLE) / COUNT(*), 6) AS dup_rate
    FROM documents LEFT JOIN dup_docs d USING (doc_id)
    GROUP BY source
    """


@register("docs_near_dup_rate_by_source", oracle=_dup_rate_oracle_sql())
def docs_near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup reporting by SOURCE: which feeds contribute the near-dups
    (the metric that drives dropping or down-weighting a source).
    Composes the jaccard pair graph with a doc→source rollup. The
    duplicated-doc id set grows WITH the corpus (millions of ids at
    100 TB), so its join back to documents is a plain keyed equi-join —
    AQE broadcasts it only when runtime stats show it is genuinely
    small (VERDICT r05 "What's wrong #1": no forced broadcast of a
    corpus-dependent set)."""
    from hello_flink_spark.queries.llm import dedup_ngram_jaccard

    d = t(spark, sf_dir, "documents")
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        d.join(dup_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("is_dup").cast("long").alias("n_dup"),
            F.round(F.count("is_dup").cast("double") / F.count(F.lit(1)), 6).alias(
                "dup_rate"
            ),
        )
    )


@register(
    "events_user_activity_profile",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS active_days,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def events_user_activity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime profile (the feature table behind churn /
    engagement models): event volume, distinct active days, behavioral
    breadth, monetary total — one hash aggregation keyed by user, the
    natural partitioner at any scale."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.date_trunc("day", F.col("ts"))).cast("long").alias(
            "active_days"
        ),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Round-5 capstone: the fused corpus pipeline v2
# ---------------------------------------------------------------------------


def _corpus_v2_oracle_sql() -> str:
    from hello_flink_spark.queries.llm import SHINGLE_DF_CAP

    return f"""
    WITH bounds AS (
      SELECT quantile_cont(n_chars, 0.05) AS lo,
             quantile_cont(n_chars, 0.95) AS hi
      FROM documents),
    f1 AS (
      SELECT doc_id, source, n_chars, text FROM documents CROSS JOIN bounds
      WHERE n_chars >= lo AND n_chars <= hi),
    f2 AS (
      SELECT doc_id, source, n_chars, text FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY sha256(lower(trim(text)))
          ORDER BY n_chars DESC, doc_id) AS rn
        FROM f1) WHERE rn = 1),
    sh AS (
      SELECT doc_id, shingle FROM (
        SELECT DISTINCT doc_id,
               tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] AS shingle
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens
              FROM f2),
             UNNEST(generate_series(1, GREATEST(len(tokens) - 2, 0))) AS u(i)
      ) QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {SHINGLE_DF_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS both_cnt
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b),
    drops AS (
      SELECT DISTINCT doc_b AS doc_id FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(both_cnt AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8),
    f3 AS (
      SELECT f2.doc_id, f2.source, f2.n_chars FROM f2
      WHERE NOT EXISTS (SELECT 1 FROM drops WHERE drops.doc_id = f2.doc_id)),
    counts AS (SELECT source, COUNT(*) AS n FROM f3 GROUP BY source),
    quota AS (SELECT MIN(n) AS q FROM counts),
    f4 AS (
      SELECT doc_id, source, n_chars FROM (
        SELECT f3.*, ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY doc_id) AS rn
        FROM f3) CROSS JOIN quota WHERE rn <= q),
    packed AS (
      SELECT doc_id, source, n_chars,
             CAST(FLOOR((SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_chars) / 8000.0) AS BIGINT) AS batch_id
      FROM f4)
    SELECT source, batch_id, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM packed GROUP BY source, batch_id
    """


@register("pipeline_training_corpus_v2", oracle=_corpus_v2_oracle_sql())
def pipeline_training_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 capstone: the training-corpus pipeline rebuilt from this
    round's operators as ONE declarative plan — self-calibrating
    [p5,p95] length band (broadcast percentile scalars) → exact dedup
    keeping the best copy (content-hash window) → near-CONTAINMENT
    drop (df-capped shingle equi-join, larger doc_id of each ≥0.8 pair
    dropped) → source-balanced mixture (broadcast min-quota) →
    per-source token-budget batch packing → per-(source, batch)
    rollup. Five conceptual stages; every shuffle is keyed (content
    hash, shingle, source) — the composition argument for operators as
    DataFrame combinators. Round-17: the exact-dedup survivors (f2)
    and their capped shingle set each materialize ONCE — the pre-r17
    single-tree plan recomputed the scan + percentile band + hash
    window four times (once per shingle self-join side, sizes, and the
    anti-join base; zero ReusedExchange in the initial plan) — and the
    containment pair stage uses the grouped single-shuffle enumeration
    (joins.pair_counts) instead of the two-shuffle self-join."""
    from hello_flink_spark.queries.llm import _shingle_overlap

    d = t(spark, sf_dir, "documents")
    bounds = d.agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    f1 = (
        d.crossJoin(F.broadcast(bounds))
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "source", "n_chars", "text")
    )
    w_best = Window.partitionBy(F.sha2(F.lower(F.trim(F.col("text"))), 256)).orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    # round-17: materialize the exact-deduped survivors once — the
    # shingle subtree and the f3 anti-join below both consume f2, and
    # each previously recomputed the scan + percentile band + hash
    # window (the pre-r17 plan carried 4 copies of that subtree)
    f2 = (
        f1.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    overlap = _shingle_overlap(f2.select("doc_id", "text"), None)
    drops = (
        overlap.filter(_containment() >= 0.8)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    # `drops` is corpus-dependent (near-dup id set grows with the data):
    # no broadcast hint — the anti-join shuffles on doc_id and AQE may
    # still broadcast at runtime when the set is actually small.
    # Round-18 (guide §5, the corpus_v3 treatment): materialize the
    # containment survivors ONCE — the quota branch (counts -> min) and
    # the f4 ranking path both consume f3, and each previously
    # recomputed the whole pair-enumeration + sizes-join + anti-join
    # subtree (the r17 after-plan still carried 52 Exchange refs, most
    # of them this duplication). Non-eager: the quota broadcast build
    # is the first action and fills the checkpoint.
    f3 = (
        f2.join(drops, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
        .localCheckpoint(eager=False)
    )
    counts = f3.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    quota = counts.agg(F.min("n").alias("q"))
    w_rank = Window.partitionBy("source").orderBy("doc_id")
    f4 = (
        f3.withColumn("rn", F.row_number().over(w_rank))
        .crossJoin(F.broadcast(quota))
        .filter(F.col("rn") <= F.col("q"))
        .select("doc_id", "source", "n_chars")
    )
    w_pack = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = f4.withColumn(
        "batch_id",
        F.floor((F.sum("n_chars").over(w_pack) - F.col("n_chars")) / 8000.0).cast(
            "long"
        ),
    )
    return packed.groupBy("source", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Round-5 batch 7: window-packing trio — nearest as-of, geometric mean,
# gaps-and-islands streaks
# ---------------------------------------------------------------------------


@register(
    "join_asof_nearest",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    clicks AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts FROM events
      WHERE event_type = 'click'),
    cand AS (
      SELECT p.event_id, p.user_id, c.click_id,
             ABS(epoch_us(p.ts) - epoch_us(c.click_ts)) AS dist_us,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY ABS(epoch_us(p.ts) - epoch_us(c.click_ts)),
                                         c.click_id) AS rk
      FROM purchases p JOIN clicks c ON p.user_id = c.user_id)
    SELECT event_id, user_id, click_id, CAST(dist_us AS BIGINT) AS dist_us
    FROM cand WHERE rk = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction (pandas merge_asof
    direction='nearest'): each purchase matched to the temporally
    closest click either side — completes the backward/forward family
    (join_asof / join_asof_forward) with the third direction. Candidates
    come from the user-keyed equi-join (bounded per-user fan-out), the
    winner from a per-purchase rank on |Δt| with click_id tiebreak —
    exact micro distances, so both engines cut identically."""
    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    dist = F.abs(F.unix_micros(F.col("ts")) - F.unix_micros(F.col("click_ts")))
    cand = purchases.join(clicks, F.col("user_id") == F.col("c_user")).select(
        "event_id", "user_id", "click_id", dist.alias("dist_us")
    )
    w = Window.partitionBy("event_id").orderBy("dist_us", "click_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("event_id", "user_id", "click_id", F.col("dist_us").cast("long"))
    )


@register(
    "agg_geometric_mean",
    oracle="""
    SELECT l_returnflag,
           ROUND(EXP(AVG(LN(l_extendedprice))), 4) AS geo_mean_price,
           ROUND(AVG(l_extendedprice), 4) AS arith_mean_price
    FROM lineitem WHERE l_extendedprice > 0
    GROUP BY l_returnflag
    """,
)
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean per group via exp(avg(ln x)) — the
    multiplicative-average aggregate (rates, ratios, skewed prices)
    that plain AVG overstates; paired with the arithmetic mean so the
    gap is visible. Log-sum is partial-aggregable: one shuffle of
    (group, partial) rows."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    return li.groupBy("l_returnflag").agg(
        F.round(F.exp(F.avg(F.log("l_extendedprice"))), 4).alias("geo_mean_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("arith_mean_price"),
    )


@register(
    "win_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events),
    islands AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS island
      FROM days),
    streaks AS (
      SELECT user_id, COUNT(*) AS len FROM islands GROUP BY user_id, island)
    SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    gaps-and-islands: distinct active days, island key = day minus
    row_number (constant within a consecutive run), then two hash
    aggs. The window is user-partitioned; everything else is keyed
    aggregation — the engagement-streak feature at any scale."""
    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "island", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )
