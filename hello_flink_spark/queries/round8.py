"""Round-8 declared queries (SURVEY §2.18).

Batch 1 — the last two join-expressible tiers of the Flink CEP
pattern API (VERDICT r07 #4/#5): [F] ``IterativeCondition`` (a
per-step predicate over previously-accepted events, compiled as a
carried value column + one extra join predicate) and [F]
``Pattern#followedByAny`` (any-match promotion, the band join WITHOUT
the MIN collapse). Both oracle-verified here and golden-twinned
against the streaming NFA in tests/test_streaming.py, with the
hypothesis reference-model suite extended first per the r07
discipline. Plus the IVFADC composition (VERDICT r07 #8).

Batch 2/3 — training-pipeline analytics: Bloom membership pre-filter
(sketch-family completion), co-purchase degree distribution,
session-scoped funnel conversion (with a keyed-state streaming twin
in streaming/stateful.py), deterministic hash sampling, and the
binned-PSI drift gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hello_flink_spark.registry import register
from hello_flink_spark.sources.readers import load_table as t


def _rel_guard_oracle() -> str:
    from hello_flink_spark.streaming.cep import RELGUARD3, oracle_sql

    return oracle_sql(RELGUARD3)


@register("cep_pattern_relative_guard", oracle=_rel_guard_oracle())
def cep_pattern_relative_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] Flink CEP ``IterativeCondition``: view → click → purchase
    within 24 h stages, where the purchase's value must be >= 2x the
    ANCHOR view's value (``ctx.getEventsForPattern("view")`` in Flink).
    The guard is per-partial — one purchase event promotes only the
    anchors whose value it clears — which the batch chain expresses by
    carrying the anchor's value down the chain (one column, no extra
    shuffle: the same user_id exchange is reused) and adding one join
    predicate to the final stage; a right-type purchase failing the
    guard is relaxed-contiguity ignored, exactly like a failed
    ``step_min_value`` guard. Non-vacuous on the fixture: 5 matches at
    sf0.001 / 86 at sf0.01 vs 27 / 225 unguarded."""
    from hello_flink_spark.streaming.cep import RELGUARD3, compile_batch

    return compile_batch(RELGUARD3, t(spark, sf_dir, "events"))


def _any_match_oracle() -> str:
    from hello_flink_spark.streaming.cep import ANYCLICK3, oracle_sql

    return oracle_sql(ANYCLICK3)


@register("cep_pattern_followed_by_any", oracle=_any_match_oracle())
def cep_pattern_followed_by_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] Flink CEP ``Pattern#followedByAny``: view →(any) click →
    purchase within 24 h stages — EVERY click within the window of the
    view forks its own match branch (first-match promotion collapses
    to one), and each branch is completed by its own first later
    purchase: multi-touch attribution, where every touchpoint gets a
    row. Compiled as the stage's band join WITHOUT the MIN collapse
    (``_any_join``): every candidate row IS a branch, so the plan is
    one keyed equi-join with the time-band residual — same single
    user_id exchange as the first-match chain, minus the aggregate.
    NFA twin: promotion spawns a branch and the waiting partial stays
    armed until window expiry (branch-count = candidate-count by
    construction; property-tested batch-split invariant). Non-vacuous
    vs the first-match twin: 27→39 matches at sf0.001, 225→277 at
    sf0.01."""
    from hello_flink_spark.streaming.cep import ANYCLICK3, compile_batch

    return compile_batch(ANYCLICK3, t(spark, sf_dir, "events"))


from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402


@register("sim_ann_ivf_pq", tags=("iterative", "rows_only"))
def sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ / IVFADC (Jégou, Douze & Schmid, "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011): the actual
    billion-scale ANN query shape — coarse IVF buckets bound the scan,
    PQ codes stand in for the vectors inside them, and each query
    scores candidates through lookup tables instead of touching raw
    floats (wires agg_pq_quantize's codebook into sim_ann_ivf's probe
    path).

    Plan shape (all bounded-state, no all-pairs):
    1. ``pq_train`` — the vector tier's Lloyd trainer; its codebook
       (1,024 doubles) is the only driver state. Each bucket-assigned
       corpus row computes its 8 codes map-only from the folded
       codebook literal (``pq_codes_col``) — the RAM-resident index.
    2. Coarse quantizer — the shared first-C centroid broadcast
       (``ivf_nearest_buckets``): corpus → 1 bucket, probes → NPROBE
       buckets. Probes are a constant-size set (PROBE_ID_MAX bound).
    3. ``adc_top5`` — the IVFADC scorer shared with the residual
       variant, fed the raw query vector per probed bucket: one LUT
       per (query, bucket), ||q_s − c_{s,j}||² for all PQ_K codes,
       broadcast onto the bucket's candidates; ADC distance is an
       O(PQ_SUBS) fold over LUT hits, then top-5 per query
       (rounded-distance + id tiebreak, the sim_knn determinism rule).

    At 100 TB the bucket join is the only data-scale shuffle; every
    other operand is constant-size and broadcast — but IVF_C = 16 and
    NPROBE = 2 are FIXTURE constants (llm.py): at scale the coarse
    codebook grows C ~ sqrt(N) (the Jégou-recommended balance point,
    ~1/C of the corpus per inverted list) or the bucket equi-join
    degenerates to N/16-row partitions; C stays k-means-trainable and
    broadcastable far past 100 TB (1 M x 64 doubles = 512 MB would be
    the extreme; 64k centroids = 32 MB is typical). Resolution note:
    this op ADC-scores RAW-vector PQ codes, so ranking resolution is
    bounded by the codebook — ``sim_ann_ivf_pq_residual`` encodes
    RESIDUALS (x - coarse centroid), which resolves within-bucket
    structure finer than the subspace codebooks. R-tier, pinned in
    tests/test_llm.py: exact numpy ADC replay; recall@5 >= 0.30 on the
    random-vector fixture (distance-concentration worst case); and
    recall@5 >= 0.8 (measured 1.0) end-to-end on the clustered
    product-of-modes blob fixture, the regime PQ's product codebook
    models exactly."""
    from hello_flink_spark.queries.llm import (
        IVF_NPROBE,
        PROBE_ID_MAX,
        ivf_centroids_and_vecs,
        ivf_nearest_buckets,
    )
    from hello_flink_spark.queries.round7 import adc_top5, pq_codes_col, pq_train

    books, _assigned = pq_train(spark, sf_dir)

    centroids, vecs = ivf_centroids_and_vecs(spark, sf_dir)
    probes = ivf_nearest_buckets(
        centroids,
        vecs.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PROBE_ID_MAX)),
        "vec_id",
        IVF_NPROBE,
    ).select(F.col("vec_id").alias("query_id"), "bucket", F.col("vec").alias("qv"))
    coded = ivf_nearest_buckets(centroids, vecs, "vec_id", 1).select(
        F.col("vec_id").alias("neighbor_id"),
        "bucket",
        pq_codes_col(books, "vec").alias("codes"),
    )
    return adc_top5(probes, coded, books)


# ---------------------------------------------------------------------------
# round-8 batch 2: Bloom-filter decontamination pre-filter, co-purchase
# degree distribution, session-scoped funnel conversion
# ---------------------------------------------------------------------------

BLOOM_K = 5          # hash functions
BLOOM_BITS_PER = 16  # bits per member (m = 16n, k = 5 -> ~2% FPR)


@register(
    "dedup_bloom_prefilter",
    oracle=f"""
    WITH members AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
    ),
    sz AS (SELECT CAST({BLOOM_BITS_PER} * COUNT(*) AS BIGINT) AS m FROM members),
    seeds AS (SELECT UNNEST(generate_series(0, {BLOOM_K - 1})) AS seed),
    bits AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(s.seed || ':' || mem.text), 1, 8)) AS BIGINT)
               % (SELECT m FROM sz) AS pos
      FROM members mem, seeds s
    ),
    probes AS (
      SELECT d.doc_id, s.seed,
             CAST(('0x' || substr(md5(s.seed || ':' || d.text), 1, 8)) AS BIGINT)
               % (SELECT m FROM sz) AS pos
      FROM documents d, seeds s
    )
    SELECT p.doc_id,
           CAST(CASE WHEN p.doc_id % 20 = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_member
    FROM probes p JOIN bits b ON b.pos = p.pos
    GROUP BY p.doc_id HAVING COUNT(*) = {BLOOM_K}
    """,
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership PRE-FILTER — the decontamination gate a
    training pipeline runs before the expensive exact check: build a
    Bloom filter over the benchmark/contamination set (here: every
    20th document), probe the whole corpus, and pass only probable
    members downstream. Completes the sketch family (count-min =
    frequency, HLL = cardinality, Bloom = membership).

    Spark has no SQL-exposed bloom_filter_agg, so the filter is built
    from first principles as pure deterministic expressions (the
    dedup_minhash_sql portable-hash precedent): k=5 positions per
    text via hex-parsed md5 prefixes mod m, m sized in-plan at 16
    bits per member (a 1-row broadcast scalar, ~2% theoretical FPR).
    The SET-BIT table (<= m rows by construction) replaces the packed
    bitmap, and the probe is a distributed equi-JOIN on bit position
    with HAVING count = k — O(1)-per-probe semantics as a shuffle
    join instead of a serial bit test, which is the shape that scales
    (the bit table broadcasts when small). False negatives are
    impossible by construction (exact join, deterministic hashes);
    FPR is invariant-tested in tests/test_llm.py."""
    d = t(spark, sf_dir, "documents")
    members = d.filter(F.col("doc_id") % 20 == 0)
    sz = members.agg(
        (F.lit(BLOOM_BITS_PER) * F.count(F.lit(1))).cast("long").alias("m")
    )

    def positions(side: DataFrame) -> DataFrame:
        return (
            side.crossJoin(F.broadcast(sz))
            .withColumn("seed", F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))))
            .select(
                "doc_id",
                "seed",
                (
                    F.expr("CAST(conv(substr(md5(concat(seed, ':', text)), 1, 8), 16, 10) AS BIGINT)")
                    % F.col("m")
                ).alias("pos"),
            )
        )

    bits = positions(members).select("pos").distinct()
    probes = positions(d)
    return (
        probes.join(bits, "pos")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == BLOOM_K)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 20 == 0, 1).otherwise(0).cast("long").alias("is_member"),
        )
    )


@register(
    "graph_degree_stats",
    oracle="""
    WITH e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    deg AS (SELECT v, COUNT(*) AS d FROM
              (SELECT pa AS v FROM e UNION ALL SELECT pb FROM e)
            GROUP BY v)
    SELECT CAST(d AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY d
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree DISTRIBUTION of the part co-purchase graph (same edge
    set as graph_triangle_count: parts sharing >= 2 orders) — the
    first thing a graph pipeline inspects before choosing algorithms
    (hub skew decides orientation strategies, salting, partitioning).
    Plan: the grouped basket pass builds edges (one exchange on
    l_orderkey — round-17 copurchase_edges shape), one explode + keyed
    count for degrees, one hash agg for the histogram — each stage
    partial-aggregated map-side; no step is quadratic in any vertex's
    degree."""
    from hello_flink_spark.operators.graph import copurchase_edges

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(li, 2)
    deg = (
        edges.select(F.explode(F.array("pa", "pb")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.groupBy(F.col("d").cast("long").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


SESSION_GAP_MIN = 30


@register(
    "events_session_funnel",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  > {SESSION_GAP_MIN} * 60 * 1000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    v AS (
      SELECT user_id, sid, ts, event_type,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id, sid) AS fv
      FROM sess
    ),
    c AS (
      SELECT user_id, sid, ts, event_type, fv,
             MIN(CASE WHEN event_type = 'click' AND ts > fv THEN ts END)
               OVER (PARTITION BY user_id, sid) AS fc
      FROM v
    ),
    p AS (
      SELECT user_id, sid, fv, fc,
             MIN(CASE WHEN event_type = 'purchase' AND ts > fc THEN ts END)
               OVER (PARTITION BY user_id, sid) AS fp
      FROM c
    ),
    per_sess AS (
      SELECT user_id, sid, ANY_VALUE(fv) AS fv,
             ANY_VALUE(fc) AS fc, ANY_VALUE(fp) AS fp
      FROM p GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(fv) AS BIGINT) AS sessions_view,
           CAST(COUNT(fc) AS BIGINT) AS sessions_view_click,
           CAST(COUNT(fp) AS BIGINT) AS sessions_full_funnel
    FROM per_sess
    """,
)
def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-scoped funnel conversion: gaps-and-islands
    sessionization (30-min inactivity) composed with the ordered
    view→click→purchase funnel, evaluated PER SESSION rather than per
    user (funnel_conversion's grain) — the metric an attribution
    pipeline actually reports, since one user's morning research and
    evening purchase are different journeys. Three chained
    conditional-MIN window passes over the SAME (user, session)
    partitioning — Catalyst reuses one sort-shuffle for the lag, the
    cumulative session id and all three funnel stages (no extra
    exchange), then a single hash agg folds sessions into four
    counters."""
    e = t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wo))
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            gap_us > SESSION_GAP_MIN * 60 * 1_000_000, 1
        ).when(F.lag("ts").over(wo).isNull(), 1).otherwise(0).alias("new_s"),
    )
    sess = marked.withColumn(
        "sid", F.sum("new_s").over(wo.rowsBetween(Window.unboundedPreceding, 0))
    )
    ws = Window.partitionBy("user_id", "sid")
    v = sess.withColumn(
        "fv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(ws)
    )
    c = v.withColumn(
        "fc",
        F.min(
            F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("fv")), F.col("ts"))
        ).over(ws),
    )
    p = c.withColumn(
        "fp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("fc")),
                F.col("ts"),
            )
        ).over(ws),
    )
    per_sess = p.groupBy("user_id", "sid").agg(
        F.first("fv").alias("fv"), F.first("fc").alias("fc"), F.first("fp").alias("fp")
    )
    return per_sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count("fv").alias("sessions_view"),
        F.count("fc").alias("sessions_view_click"),
        F.count("fp").alias("sessions_full_funnel"),
    )


# ---------------------------------------------------------------------------
# round-8 batch 3: deterministic eval-set sampling, binned PSI drift
# ---------------------------------------------------------------------------

SAMPLE_K = 5  # rows kept per group


@register(
    "sample_deterministic_hash",
    oracle=f"""
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_orderpriority
        ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
    ) <= {SAMPLE_K}
    """,
)
def sample_deterministic_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC per-group sampling — the eval-set/debug-slice
    primitive a training pipeline needs where `TABLESAMPLE` cannot be
    used: rows ranked by a content hash are a stable pseudo-random
    draw that every engine, every run, and every scale reproduces
    bit-identically (new rows can displace old ones only by hash
    order, never by arrival order — re-runs are diff-able). Spark's
    native `sample` is seed-dependent per partition split, hence its
    R-tier gate; this one is fully oracle-checked. Plan: one keyed
    window rank per group (single hash-partition sort-shuffle on the
    group key), top-k filter via WindowGroupLimit pushdown — no
    global sort."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_K)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


PSI_BINS = 10
PSI_LO, PSI_HI = 0.0, 500.0  # fixture value range; clamp outliers to edge bins


@register(
    "events_value_psi",
    oracle=f"""
    WITH binned AS (
      SELECT event_type,
             LEAST(GREATEST(CAST(FLOOR((value - {PSI_LO}) / (({PSI_HI} - {PSI_LO}) / {PSI_BINS})) AS BIGINT), 0), {PSI_BINS - 1}) AS bin
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    raw_counts AS (
      SELECT bin,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
      FROM binned GROUP BY bin
    ),
    allbins AS (SELECT CAST(range AS BIGINT) AS bin FROM range(0, {PSI_BINS})),
    counts AS (
      SELECT b.bin, COALESCE(rc.ca, 0) AS ca, COALESCE(rc.cb, 0) AS cb
      FROM allbins b LEFT JOIN raw_counts rc ON rc.bin = b.bin
    ),
    tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM counts),
    ratios AS (
      SELECT bin,
             (ca + 0.5) / (na + {PSI_BINS} * 0.5) AS pa,
             (cb + 0.5) / (nb + {PSI_BINS} * 0.5) AS pb
      FROM counts, tot
    )
    SELECT CAST((SELECT na FROM tot) AS BIGINT) AS n_view,
           CAST((SELECT nb FROM tot) AS BIGINT) AS n_purchase,
           ROUND(SUM((pa - pb) * ln(pa / pb)), 6) AS psi
    FROM ratios
    """,
)
def events_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the `view` and `purchase`
    value distributions — the industry drift gate (PSI < 0.1 stable,
    > 0.25 shifted) a data pipeline runs between snapshots before
    retraining. Exact KS needs a GLOBAL ordered scan (the
    unpartitioned-window class the plan guard exists to reject), so
    the scalable formulation is fixed-bin PSI: bin arithmetic is
    map-side, counts are ONE hash aggregate over {PSI_BINS} bins
    (constant-size result at any corpus scale), and the Laplace
    +0.5 smoothing keeps empty bins finite in both engines
    identically. ALL {PSI_BINS} bins enter the sum (a 10-row range
    frame left-joined to the counts, ADVICE r08): a bin empty in
    BOTH distributions still contributes its smoothed term whenever
    n_view != n_purchase, matching the textbook all-bins
    definition — omitting it would understate PSI."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    width = (PSI_HI - PSI_LO) / PSI_BINS
    binned = e.select(
        "event_type",
        F.least(
            F.greatest(
                F.floor((F.col("value") - PSI_LO) / width).cast("long"), F.lit(0)
            ),
            F.lit(PSI_BINS - 1),
        ).alias("bin"),
    )
    raw_counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("cb"),
    )
    # all-bins completion (ADVICE r08): a {PSI_BINS}-row range frame —
    # constant-size, AQE broadcasts it — so fully-empty bins keep their
    # smoothed contribution
    allbins = spark.range(PSI_BINS).select(F.col("id").alias("bin"))
    counts = allbins.join(raw_counts, "bin", "left").select(
        "bin",
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    ratios = counts.crossJoin(F.broadcast(tot)).select(
        ((F.col("ca") + 0.5) / (F.col("na") + PSI_BINS * 0.5)).alias("pa"),
        ((F.col("cb") + 0.5) / (F.col("nb") + PSI_BINS * 0.5)).alias("pb"),
        "na",
        "nb",
    )
    return ratios.agg(
        F.first("na").alias("n_view"),
        F.first("nb").alias("n_purchase"),
        F.round(
            F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))), 6
        ).alias("psi"),
    )
