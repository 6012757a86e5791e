"""LLM-data-pipeline operators — SURVEY §2.12 (mandated by the north
star: dedup, similarity search, multimodal columns, text analysis over
``documents`` / ``embeddings``).

Scale design notes (the 100 TB contract):

- near-dup candidate generation NEVER does all-pairs: Jaccard pairs
  come from an equi-join on shared shingles, SimHash pairs from an
  equi-join on 16-bit bands, MinHash pairs from LSH
  ``approxSimilarityJoin`` — all linear-ish in corpus size;
- kNN broadcasts the (small) query set against the corpus — one pass,
  no corpus self-join; the approximate path is
  BucketedRandomProjectionLSH (sub-linear probe);
- SimHash aggregates per (doc, bit) with a plain hash aggregation —
  vocabulary-independent, single shuffle, no Python;
- all text ops are built-in expressions (codegen); Python appears only
  in the multimodal decode stub (Arrow-batched ``mapInPandas``).

[F] no Flink-tutorial equivalent — these extend the surface per
BASELINE.json:6; anchors are SURVEY.md §2.12 rows.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

from hello_flink_spark.operators import scale
from hello_flink_spark.operators.joins import pair_counts
from hello_flink_spark.operators.scale import spread_small_scan
from hello_flink_spark.registry import register
from hello_flink_spark.sources.readers import load_table as t

STOPWORDS = ("the", "a")


def _tokens(col: str = "text"):
    return F.split(F.lower(F.trim(F.col(col))), " ")


def _as_double(arr):
    return F.transform(arr, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _cosine_prenormed(a, b, na, nb):
    """``_cosine`` with the two norms hoisted to per-ROW columns
    (round-17, guide §1.2 per-task work): in a probe × corpus join the
    full form re-folds both self-dot-products for every PAIR — 3
    zip_with/aggregate folds per pair; precomputing sqrt(dot(a,a)) once
    per probe and sqrt(dot(b,b)) once per corpus row leaves ONE fold on
    the pair path. Bit-identical: same IEEE ops in the same order
    (dot / (na * nb)), just evaluated earlier."""
    return _dot(a, b) / (na * nb)


def _norm_col(v):
    return F.sqrt(_dot(v, v))


_DOT_SQL = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _cosine_sql(a: str, b: str) -> str:
    """Spark-SQL text twin of ``_cosine`` — the IDENTICAL expression
    tree (zip_with/aggregate fold, dot / (sqrt·sqrt)), for use inside
    higher-order-function lambdas where Column helpers cannot reach
    (round-17: ivf_nearest_buckets' per-row centroid fold)."""
    return (
        f"({_DOT_SQL.format(a=a, b=b)}"
        f" / (sqrt({_DOT_SQL.format(a=a, b=a)})"
        f" * sqrt({_DOT_SQL.format(a=b, b=b)})))"
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT sha256(lower(trim(text))) AS norm_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS dup_cnt
    FROM documents
    GROUP BY norm_hash
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text hash: hash-groupBy, keep the
    smallest doc_id per group. The sf0.01 fixture has 0 exact duplicate
    texts (FIXTURES.md), so this verifies identity preservation; the
    positive near-dup signal is covered by dedup_ngram_jaccard /
    dedup_minhash / dedup_simhash. One shuffle on the 256-bit key —
    uniformly distributed, skew-free at any scale."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("dup_cnt"))
    )


SHINGLE_DF_CAP = 50  # drop shingles shared by more docs than this before
# candidate generation: a shingle in k docs emits k² candidate pairs, so
# boilerplate n-grams (headers, common trigrams) turn the equi-join
# quadratic on real corpora. Standard near-dup practice is to exclude
# them from the shingle representation. Fixture max df is 25 (sf0.1),
# 9 (sf0.001) — the cap is above both, so oracle results are unchanged;
# the cap itself is mirrored in the oracle SQL, so semantics agree at
# any scale factor.

NGRAM_SHINGLES_SQL = f"""
    SELECT doc_id, shingle FROM (
      SELECT DISTINCT doc_id,
             tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] AS shingle
      FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens FROM documents),
           UNNEST(generate_series(1, GREATEST(len(tokens) - 2, 0))) AS u(i)
    ) QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {SHINGLE_DF_CAP}
"""


def _shingle_rows(d: DataFrame) -> DataFrame:
    """(doc_id, 3-gram shingle) rows of ``d``, one per token position:
    map-only, not yet distinct or df-capped.

    Guards the index range for docs with < 3 tokens: ``sequence(1, 0)``
    in Spark is the DESCENDING [1, 0], which would drive element_at out
    of bounds — such docs legitimately have zero shingles (matching
    DuckDB's empty generate_series(1, 0))."""
    toks = d.select("doc_id", _tokens().alias("tokens"))
    idx = F.when(
        F.size("tokens") >= 3, F.sequence(F.lit(1), F.size("tokens") - 2)
    ).otherwise(F.array().cast("array<int>"))
    return toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("tokens"), i),
                    F.element_at(F.col("tokens"), i + 1),
                    F.element_at(F.col("tokens"), i + 2),
                ),
            )
        ).alias("shingle"),
    )


def _shingle_df(d: DataFrame, checkpoint: bool = False) -> DataFrame:
    """Distinct (doc_id, 3-gram shingle) pairs, document-frequency-capped.

    ``checkpoint=True`` (round-17, guide §5 caching): materialize the
    distinct shingle frame once BEFORE the hot-list aggregation —
    callers that consume the capped frame more than once (self-join
    sides, per-doc sizes) plus the hot-list probe otherwise each
    recompute the scan+explode+distinct subtree (4 copies in
    dedup_ngram_jaccard's pre-r17 plan, zero ReusedExchange in the
    initial plan). Eager: a non-eager checkpoint saves no job here
    (under AQE the ``localCheckpoint`` call runs the distinct's
    shuffle-map stage itself), and while it is unfilled the concurrent
    jobs of the caller's action compute it through the original plan;
    when one of them fills it, that plan's metrics are dropped and the
    others' task updates for them log a burst of "Failed to update
    accumulator" ERRORs (50 a query at sf0.1, in half the cold runs).
    Single-consumer callers should leave it off — the materialization
    buys nothing there.
    """
    shingles = _shingle_rows(d).distinct()
    if checkpoint:
        shingles = shingles.localCheckpoint(eager=True)
    # df-cap via hot-list anti-join: the hot list (shingles above the
    # cap) is boilerplate-sized in practice, so it broadcasts and the
    # filter is map-side — but the bound is enforced, not assumed:
    # anti_join_bounded fails over to a shuffle anti-join if the list
    # ever exceeds HOT_BROADCAST_MAX (a window over shingle would
    # instead add a full sort of the shingle set).
    from hello_flink_spark.operators.scale import anti_join_bounded

    hot = (
        shingles.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .select("shingle")
    )
    return anti_join_bounded(shingles, hot, "shingle")


def _overlap_counts(rows: list) -> list[tuple]:
    """Driver twin of ``_shingle_df`` + ``pair_counts`` + sizes over
    the (doc_id, shingle) rows of ``_shingle_rows``: distinct, drop
    shingles in more than SHINGLE_DF_CAP docs, count each doc's
    shingles and each pair's shared ones. Integers only. A null doc_id
    counts toward a shingle's df but pairs with nothing, as
    ``collect_list`` and the equi-joins treat it."""
    docs_of: dict[str, set] = defaultdict(set)
    for doc, shingle in rows:
        docs_of[shingle].add(doc)
    n: Counter = Counter()
    both: Counter = Counter()
    for docs in docs_of.values():
        if len(docs) > SHINGLE_DF_CAP:
            continue
        ids = sorted(x for x in docs if x is not None)
        n.update(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                both[a, b] += 1
    return [(a, b, c, n[a], n[b]) for (a, b), c in both.items()]


def _shingle_overlap_rows(d: DataFrame) -> list[tuple] | None:
    """``(doc_a, doc_b, both_cnt, n_a, n_b)`` for every doc pair of
    ``d`` that shares a df-capped shingle (doc_a < doc_b; n = the doc's
    capped shingle count), counted on the driver; None when ``d`` has
    more than ``scale.HOT_BROADCAST_MAX`` shingle rows.

    The bounded-broadcast protocol (``scale.anti_join_bounded``): one
    LIMIT-bounded probe of the map-only ``_shingle_rows`` plan (one job
    on a one-split scan; Spark's own lower/trim/split and concat_ws),
    and ``_overlap_counts`` does at most
    ``HOT_BROADCAST_MAX·(SHINGLE_DF_CAP−1)/2`` pair updates. Past the
    bound the probe's ``HOT_BROADCAST_MAX`` + 1 rows still reach the
    driver as Python rows and are dropped: a fixed cost that a corpus
    just over the bound pays on top of the Spark plan (the LIMIT stops
    the scan early, so a large corpus pays no more)."""
    bound = scale.HOT_BROADCAST_MAX
    head = _shingle_rows(d).limit(bound + 1).collect()
    return _overlap_counts(head) if len(head) <= bound else None


def _shingle_overlap(
    d: DataFrame, rows: list[tuple] | None, *, spread: bool = False
) -> DataFrame:
    """The ``(doc_a, doc_b, both_cnt, n_a, n_b)`` frame of ``d``:
    ``rows`` (from ``_shingle_overlap_rows``, doc_id's type) as a local
    frame, or, past the bound (``rows`` None), the Spark plan:
    ``_shingle_df`` (over ``spread_small_scan(d)`` when ``spread``),
    ``joins.pair_counts`` and the per-doc sizes."""
    if rows is not None:
        doc_type = d.schema["doc_id"].dataType
        schema = StructType(
            [StructField("doc_a", doc_type), StructField("doc_b", doc_type)]
            + [StructField(c, LongType()) for c in ("both_cnt", "n_a", "n_b")]
        )
        return d.sparkSession.createDataFrame(rows, schema, verifySchema=False)
    shingles = _shingle_df(spread_small_scan(d) if spread else d, checkpoint=True)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        pair_counts(shingles, ["shingle"], "doc_id", "doc_a", "doc_b", "both_cnt")
        .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a", "doc_b", "both_cnt",
            F.col("sa.n").alias("n_a"), F.col("sb.n").alias("n_b"),
        )
    )


def _jaccard(both, n_a, n_b):
    """|A∩B| / |A∪B| from the shared and per-doc shingle counts. The
    same expression on Columns (Spark's double division) and on Python
    ints (true division): for counts below 2**53 both divide the same
    two doubles with IEEE rounding, so they agree bit for bit."""
    return both / (n_a + n_b - both)


def _jaccard_dup(both, n_a, n_b):
    """dedup_ngram_jaccard's pair test, on Columns or on Python ints."""
    return _jaccard(both, n_a, n_b) >= 0.5


def _jaccard_pairs(overlap: DataFrame) -> DataFrame:
    """dedup_ngram_jaccard's ``(doc_a, doc_b, jaccard)`` rows of a
    ``_shingle_overlap`` frame."""
    cnts = F.col("both_cnt"), F.col("n_a"), F.col("n_b")
    return overlap.filter(_jaccard_dup(*cnts)).select(
        "doc_a", "doc_b", F.round(_jaccard(*cnts), 6).alias("jaccard")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({NGRAM_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS both_cnt
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(both_cnt AS DOUBLE) / (sa.n + sb.n - both_cnt), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(both_cnt AS DOUBLE) / (sa.n + sb.n - both_cnt) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection via 3-gram shingle Jaccard. Candidate pairs
    come from an equi-join on shared shingles (docs with zero overlap
    never meet — no all-pairs), then |A∩B| / |A∪B| >= 0.5 over the
    df-capped shingle sets (SHINGLE_DF_CAP bounds the k² pair blow-up
    from hot boilerplate shingles). This IS the scalable shape: shuffle
    on shingle, combine-side distinct, residual skew handled by AQE.
    The overlap counts come from ``_shingle_overlap_rows``: on the driver
    for a corpus of at most scale.HOT_BROADCAST_MAX shingle rows, else
    from the materialized shingle frame and the grouped single-shuffle
    pair enumeration (joins.pair_counts); the similarity filter and rounding
    are Spark expressions either way."""
    d = t(spark, sf_dir, "documents")
    # r12: on the Spark path the map-side shingle explode should use
    # every core when the scan arrives as one split (A/B at sf0.1:
    # 2.2 s -> 1.7 s in one window), hence spread=True.
    return _jaccard_pairs(_shingle_overlap(d, _shingle_overlap_rows(d), spread=True))


@register("dedup_minhash", oracle=None)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup via MinHash + LSH banding: token set → HashingTF binary
    vector → MinHashLSH(seed) → approxSimilarityJoin at Jaccard
    distance <= 0.5. LSH buckets make candidate generation sub-
    quadratic (the 100 TB path). Nondeterministic across engines →
    rows-only at the gate; invariant tests in tests/test_llm.py."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.array_distinct(_tokens()).alias("tokens"))
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 14, binary=True)
    feats = tf.transform(toks)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=42)
    model = mh.fit(feats)
    # distance <= 0.3 ⇔ token-set Jaccard similarity >= 0.7: actual
    # near-dups, not the broad vocab overlap of the synthetic corpus.
    pairs = model.approxSimilarityJoin(feats, feats, 0.3, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


@register(
    "dedup_simhash",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(lower(trim(text)), ' ')) AS word
      FROM documents
    ),
    bits AS (
      SELECT doc_id, u.j,
             SUM(((CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) >> u.j)
                  & 1) * 2 - 1) AS s
      FROM tok, UNNEST(generate_series(0, 59)) AS u(j)
      GROUP BY doc_id, u.j
    ),
    sim AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, simhash, b.band_idx,
             (simhash >> (b.band_idx * 15)) & 32767 AS band_val
      FROM sim, UNNEST(generate_series(0, 3)) AS b(band_idx)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM banded a
      JOIN banded b ON a.band_idx = b.band_idx
                   AND a.band_val = b.band_val
                   AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 12
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup via 60-bit SimHash + banded Hamming join.

    Per doc: signed sum of each token-hash bit, sign → bit, pack to
    one BIGINT. Candidate pairs share one of four 15-bit bands
    (pigeonhole: <= 3 flipped bits per band on average for the <= 12
    threshold); exact bit_count(XOR) filter after. All built-in
    expressions: explode → hash-agg → band equi-join.

    R → O promotion (r11, VERDICT r10 #6): the token hash is the
    15-hex-digit md5 prefix (60 bits — deliberately one hex digit
    short of 64 so every packed value, shift, and band stays in
    POSITIVE int64 range on both engines; DuckDB errors on
    1::BIGINT << 63 where Spark wraps), replacing the Spark-only
    xxhash64, so the DuckDB oracle recomputes the identical banding
    end-to-end and the driver gate pins signature construction,
    banding, and the Hamming filter — the same portable-md5 device as
    `data_mixture_epochs` / `dedup_minhash_sql`."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("word"))
    # shift amounts are columns → expression strings (the F.shiftleft/
    # shiftrightunsigned Python helpers only take int literals).
    bits = (
        tok.withColumn(
            "h",
            F.expr("CAST(conv(substring(md5(word), 1, 15), 16, 10) AS BIGINT)"),
        )
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(59))))
        .withColumn(
            "contrib", F.expr("(shiftrightunsigned(h, CAST(j AS INT)) & 1) * 2 - 1")
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("contrib").alias("s"))
    )
    sim = bits.groupBy("doc_id").agg(
        F.sum(
            F.expr(
                "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)) "
                "ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("simhash")
    )
    banded = sim.withColumn("band_idx", F.explode(F.sequence(F.lit(0), F.lit(3)))).withColumn(
        "band_val",
        F.expr("shiftrightunsigned(simhash, CAST(band_idx * 15 AS INT)) & 32767"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= 12)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

PROBE_ID_MAX = 2000  # probe/query ids are drawn from vec_id < 2000 only,
# so the broadcast side is a CONSTANT-size set (≤ 40 probes at % 50,
# ≤ 20 queries at % 100) no matter how large the corpus grows — the
# corpus-side scan stays the only term that scales. Covers every vec_id
# in the fixtures (max 1999 at sf0.1), so fixture results are unchanged;
# mirrored in the oracle SQL.


@register(
    "sim_cosine_pairs",
    oracle=f"""
    SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
           ROUND(
             list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
             6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.vec_id % 50 = 0 AND a.vec_id < {PROBE_ID_MAX} AND b.vec_id > a.vec_id
    """,
)
def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine similarity, probe set × corpus — pure array lambdas
    (zip_with + aggregate), JVM-side, no Python. The probe side is a
    constant-size set (PROBE_ID_MAX bound) and broadcast; the corpus
    side streams — linear in corpus size, no self-shuffle."""
    e = t(spark, sf_dir, "embeddings")
    probes = e.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < PROBE_ID_MAX)
    ).select(
        F.col("vec_id").alias("probe_id"),
        _as_double(F.col("embedding")).alias("pvec"),
    ).withColumn("pn", _norm_col(F.col("pvec")))
    cands = e.select(
        F.col("vec_id").alias("cand_id"),
        _as_double(F.col("embedding")).alias("cvec"),
    ).withColumn("cn", _norm_col(F.col("cvec")))
    return (
        cands.join(F.broadcast(probes), F.col("cand_id") > F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            F.round(
                _cosine_prenormed(
                    F.col("pvec"), F.col("cvec"), F.col("pn"), F.col("cn")
                ),
                6,
            ).alias("cos_sim"),
        )
    )


@register(
    "sim_knn",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(
               list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_inner_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))),
               6) AS cos_sim
      FROM embeddings q JOIN embeddings c
        ON q.vec_id % 100 = 0 AND q.vec_id < {PROBE_ID_MAX} AND c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 5
    """,
)
def sim_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-k cosine neighbors for a constant-size
    query set (PROBE_ID_MAX bound): broadcast queries × corpus scan +
    partitioned Top-N — the exact baseline the approximate path
    (sim_lsh_knn) is measured against. Ranking uses the ROUNDED
    similarity with neighbor_id tiebreak so cross-engine float noise
    below 1e-6 cannot reorder the cut."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PROBE_ID_MAX)
    ).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qvec"),
    ).withColumn("qn", _norm_col(F.col("qvec")))
    cands = e.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cvec"),
    ).withColumn("cn", _norm_col(F.col("cvec")))
    scored = cands.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            _cosine_prenormed(
                F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
    )


@register("sim_lsh_knn", oracle=None)
def sim_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN at scale: unit-normalize, then
    BucketedRandomProjectionLSH (seeded → deterministic) + a bucketed
    ``approxSimilarityJoin`` between the PROBE_ID_MAX-bounded query set
    (the SAME probe set as the exact twin ``sim_knn``) and the corpus —
    the sub-linear ANN path for 100 TB, replacing the single-``head()``
    demo probe VERDICT r03 flagged. On unit vectors L2 order equals
    cosine order (||a-b||² = 2−2·cos), so each query's measured
    ``recall_at_5`` vs the exact cosine top-5 rides along as a result
    column. Per ADVICE r05 the recall is TRUE recall@5 — computed over
    the approximate rank ≤ 5 rows only, not top-5-within-top-10 — and
    the floor asserted in tests/test_llm.py is 0.8 (measured 1.000 at
    sf0.001/0.01/0.1 with numHashTables=10). Rows-only at the gate
    (LSH bucketing is engine-specific by design)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    e = t(spark, sf_dir, "embeddings")
    raw = e.select(
        "vec_id", array_to_vector(_as_double(F.col("embedding"))).alias("raw")
    )
    vecs = (
        Normalizer(inputCol="raw", outputCol="features", p=2.0)
        .transform(raw)
        .select("vec_id", "features")
    )
    probes = vecs.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PROBE_ID_MAX))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=1.0, numHashTables=10, seed=42
    )
    model = lsh.fit(vecs)
    # threshold 1.3 ≈ cos 0.155: generously covers the exact top-5 band
    # (measured 1.05–1.21 on this corpus) while excluding the cos≈0 bulk
    # at ~1.414 — candidates stay a small corpus fraction per probe.
    cand = (
        model.approxSimilarityJoin(probes, vecs, 1.3, distCol="l2_dist")
        .select(
            F.col("datasetA.vec_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.round("l2_dist", 6).alias("l2_dist"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("l2_dist"), F.col("neighbor_id"))
    topk = cand.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= 10
    )
    exact5 = sim_knn(spark, sf_dir).select(
        F.col("query_id").alias("eq_id"), F.col("neighbor_id").alias("exact_nbr")
    )
    # true recall@5: only the approximate rank<=5 rows count as found
    top5 = topk.filter(F.col("rk") <= 5)
    recall = (
        top5.join(
            exact5,
            (top5.query_id == exact5.eq_id) & (top5.neighbor_id == exact5.exact_nbr),
        )
        .groupBy("query_id")
        .agg((F.count(F.lit(1)) / F.lit(5.0)).alias("recall_at_5"))
    )
    return (
        topk.join(F.broadcast(recall), "query_id", "left")
        .na.fill({"recall_at_5": 0.0})
        .select("query_id", "neighbor_id", "l2_dist", "rk", "recall_at_5")
    )


IVF_C = 16      # centroid count (deterministic: first C vectors).
                # FIXTURE-SIZED: at 100 TB the coarse codebook scales
                # C ~ sqrt(N) (~1/C of the corpus per inverted list,
                # still broadcastable) — C=16 here keeps the oracle
                # closed-form, not because 16 lists would ever bound
                # a production bucket join.
IVF_NPROBE = 2  # centroid buckets probed per query
IVF_COS_SQL = (
    "ROUND(list_inner_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_inner_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_inner_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)


def ivf_centroids_and_vecs(spark: SparkSession, sf_dir: str):
    """Coarse-quantizer inputs shared by the IVF family: the
    deterministic first-C centroid table (broadcast-size by
    construction) and the double-cast corpus."""
    e = t(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < IVF_C).select(
        F.col("vec_id").alias("c_id"), _as_double(F.col("embedding")).alias("c_vec")
    )
    vecs = e.select("vec_id", _as_double(F.col("embedding")).alias("vec"))
    return centroids, vecs


def ivf_nearest_buckets(
    centroids: DataFrame, side: DataFrame, id_col: str, n: int
) -> DataFrame:
    """Nearest-n coarse buckets by rounded cosine (id tiebreak): one
    broadcast of the constant-size centroid table x one corpus scan.

    Round-17 shape (guide §2.4 "remove shuffles outright"): the old
    plan crossJoined each side row against the C-row centroid table
    (C× row blow-up WITH the vec payload attached) and ranked with a
    Window partitioned by ``id_col`` — a full shuffle of the C×
    exploded corpus, the single data-scale exchange of the IVF family.
    Now the centroid table collapses JVM-side to ONE row carrying the
    whole codebook as an array (still broadcast, same bytes), and the
    top-n fold is a per-row array_sort over C structs — map-only, no
    blow-up, no exchange. The comparator replays the Window order
    exactly — (c_sim DESC, c_id ASC) with Spark's NaN-largest
    comparison semantics — so results are bit-identical, ties
    included."""
    cents = centroids.agg(
        F.collect_list(F.struct("c_id", "c_vec")).alias("cents")
    )
    scored = side.crossJoin(F.broadcast(cents)).select(
        id_col,
        "vec",
        F.expr(
            "slice(array_sort("
            "  transform(cents, c -> struct("
            f"    round({_cosine_sql('vec', 'c.c_vec')}, 6) AS c_sim,"
            "     c.c_id AS c_id)),"
            "  (l, r) -> CASE WHEN l.c_sim > r.c_sim THEN -1"
            "                 WHEN l.c_sim < r.c_sim THEN 1"
            "                 WHEN l.c_id < r.c_id THEN -1"
            "                 WHEN l.c_id > r.c_id THEN 1 ELSE 0 END),"
            f" 1, {int(n)})"
        ).alias("top"),
    )
    return scored.select(
        id_col, "vec", F.explode("top").alias("t")
    ).select(id_col, "vec", F.col("t.c_id").alias("bucket"))


@register(
    "sim_ann_ivf",
    oracle=f"""
    WITH centroids AS (
      SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < {IVF_C}
    ),
    assign AS (
      SELECT vec_id, embedding, c_id AS bucket FROM (
        SELECT e.vec_id, e.embedding, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {IVF_COS_SQL.format(a='e.embedding', b='c.c_vec')} DESC, c.c_id) AS rn
        FROM embeddings e CROSS JOIN centroids c)
      WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, embedding AS q_vec, c_id AS bucket FROM (
        SELECT e.vec_id, e.embedding, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {IVF_COS_SQL.format(a='e.embedding', b='c.c_vec')} DESC, c.c_id) AS rn
        FROM embeddings e CROSS JOIN centroids c
        WHERE e.vec_id % 100 = 0 AND e.vec_id < {PROBE_ID_MAX})
      WHERE rn <= {IVF_NPROBE}
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT) AS rk FROM (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {IVF_COS_SQL.format(a='p.q_vec', b='a.embedding')} AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY p.query_id
               ORDER BY {IVF_COS_SQL.format(a='p.q_vec', b='a.embedding')} DESC, a.vec_id) AS rk
      FROM probes p JOIN assign a ON a.bucket = p.bucket AND a.vec_id != p.query_id)
    WHERE rk <= 5
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN — the bucketed scale path for similarity search:
    assign every vector to its nearest of C centroids (broadcast
    centroid table), probe only the query's NPROBE nearest buckets, do
    exact cosine inside them. Corpus-side cost is one broadcast-join
    pass (assignment) + per-bucket scans — sub-linear probing at scale.

    Centroids here are the first C vectors (deterministic, so the
    DuckDB oracle can replay the exact math); a real deployment trains
    them offline (k-means) and broadcasts the trained table — the plan
    shape is identical. Ranking uses ROUNDED cosine + id tiebreak so
    cross-engine float noise can't reorder the cut (sim_knn precedent).
    """
    centroids, vecs = ivf_centroids_and_vecs(spark, sf_dir)
    assign = ivf_nearest_buckets(centroids, vecs, "vec_id", 1)
    probes = ivf_nearest_buckets(
        centroids,
        vecs.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PROBE_ID_MAX)),
        "vec_id",
        IVF_NPROBE,
    ).select(F.col("vec_id").alias("query_id"), F.col("vec").alias("q_vec"), "bucket")

    cand = probes.join(
        assign.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("n_vec"), "bucket"),
        "bucket",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(_cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(F.col("rk") <= 5)


EMB_NEAR_DUP_COS = 0.35  # calibrated: max pairwise cosine in the synthetic
# corpus is ~0.51 (near-random 64-dim vectors), so the classic 0.9+
# near-dup bar can never fire; 0.35 selects the genuine top tail. With
# real embedding corpora raise this back to 0.9+.


@register("dedup_embedding_cosine", oracle=None)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: unit-normalize vectors, LSH-bucket
    with BucketedRandomProjectionLSH, approxSimilarityJoin at the L2
    radius equivalent to cosine >= EMB_NEAR_DUP_COS (||a-b||² = 2-2cos
    on unit vectors) — candidate pairs come from shared LSH buckets,
    never all-pairs. Seeded → deterministic; rows-only at the gate with
    an exactness invariant in tests/test_llm.py."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    e = t(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", array_to_vector(_as_double(F.col("embedding"))).alias("raw"))
    unit = Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(vecs)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5, numHashTables=4, seed=42
    )
    model = lsh.fit(unit)
    radius = (2.0 - 2.0 * EMB_NEAR_DUP_COS) ** 0.5
    pairs = model.approxSimilarityJoin(unit, unit, radius, distCol="l2_dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.round(1 - F.col("l2_dist") * F.col("l2_dist") / 2, 6).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_tokenize",
    oracle=f"""
    SELECT word, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, UNNEST(string_split(lower(trim(text)), ' ')) AS word
          FROM documents)
    WHERE word NOT IN {STOPWORDS!r}
    GROUP BY word
    """,
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization + stopword removal + corpus term/document counts —
    the WordCount of the LLM pipeline (explode → hash agg, partial
    combine on both counters)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(_tokens()).alias("word"))
        .filter(~F.col("word").isin(*STOPWORDS))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"), F.countDistinct("doc_id").alias("doc_freq"))
    )


@register(
    "text_lang_filter",
    oracle="""
    SELECT lang, source, COUNT(*) AS doc_cnt, ROUND(AVG(n_chars), 2) AS avg_chars
    FROM documents
    WHERE lang IN ('en', 'de')
    GROUP BY lang, source
    """,
)
def text_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language filtering on the lang metadata column — the pushdown-
    friendly shape (predicate reaches the parquet scan)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang").isin("en", "de"))
        .groupBy("lang", "source")
        .agg(F.count("*").alias("doc_cnt"), F.round(F.avg("n_chars"), 2).alias("avg_chars"))
    )


@register(
    "text_lang_id",
    oracle="""
    SELECT doc_id, lang,
           ROUND(CAST(len(list_filter(string_split(lower(trim(text)), ' '),
                                      x -> x = 'the' OR x = 'a')) AS DOUBLE)
                 / len(string_split(lower(trim(text)), ' ')), 6) AS marker_ratio,
           CASE WHEN CAST(len(list_filter(string_split(lower(trim(text)), ' '),
                                          x -> x = 'the' OR x = 'a')) AS DOUBLE)
                     / len(string_split(lower(trim(text)), ' ')) >= 0.08
                THEN 'en_like' ELSE 'other' END AS guess
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: ratio of English marker tokens ('the','a')
    per document — the n-gram-heuristic shape (real corpora swap in a
    char-trigram profile; the fixture vocabulary is synthetic)."""
    d = t(spark, sf_dir, "documents")
    toks = _tokens()
    markers = F.size(F.filter(toks, lambda x: (x == "the") | (x == "a")))
    ratio = markers.cast("double") / F.size(toks)
    return d.select(
        "doc_id",
        "lang",
        F.round(ratio, 6).alias("marker_ratio"),
        F.when(ratio >= 0.08, "en_like").otherwise("other").alias("guess"),
    )


@register(
    "text_stats",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(len(string_split(lower(trim(text)), ' '))), 4) AS avg_words,
           ROUND(AVG(length(text)), 2) AS avg_chars,
           MAX(len(string_split(lower(trim(text)), ' '))) AS max_words,
           CAST(SUM(len(list_distinct(string_split(lower(trim(text)), ' ')))) AS BIGINT)
             AS total_uniq_words
    FROM documents
    GROUP BY source
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality stats: doc/word/char counts, vocabulary size —
    the quality-scoring aggregate of a training-data pipeline."""
    d = t(spark, sf_dir, "documents")
    toks = _tokens()
    n_words = F.size(toks)
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(n_words), 4).alias("avg_words"),
        F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
        F.max(n_words).cast("long").alias("max_words"),
        F.sum(F.size(F.array_distinct(toks))).alias("total_uniq_words"),
    )


@register(
    "text_tfidf_sql",
    oracle="""
    WITH words AS (
      SELECT doc_id, UNNEST(string_split(lower(trim(text)), ' ')) AS word FROM documents
    ),
    doc_len AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY doc_id),
    tfs AS (SELECT doc_id, word, COUNT(*) AS cnt FROM words GROUP BY doc_id, word),
    dfs AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY word),
    n_total AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT t.doc_id, t.word, dfs.df,
           ROUND((CAST(t.cnt AS DOUBLE) / doc_len.n) * ln(CAST(n_docs AS DOUBLE) / dfs.df), 6)
             AS tfidf
    FROM tfs t
    JOIN doc_len USING (doc_id)
    JOIN dfs USING (word)
    CROSS JOIN n_total
    """,
)
def text_tfidf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF by explicit formula (tf = cnt/len, idf = ln(N/df)) —
    three hash aggregations; the per-word document-frequency table is
    vocabulary-sized (10^8+ distinct tokens at web scale), so its join
    strategy is left to AQE runtime stats instead of a forced broadcast
    (VERDICT r05 "What's wrong #1"). The ml-pipeline variant
    (HashingTF+IDF) is intentionally not used so the oracle can mirror
    the math exactly."""
    d = t(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(_tokens()).alias("word"))
    # r17 (guide §2.3 "aggregate before you shuffle"): the word-instance
    # stream previously fed THREE independent aggregations (doc_len,
    # tfs, dfs), each re-running the scan + explode and each shuffling
    # the full instance stream by a different key. Both doc_len and dfs
    # are derivable from tfs — n = SUM(cnt) per doc, df = row count per
    # word (tfs rows are distinct (doc_id, word) by construction) — so
    # the corpus is exploded ONCE and only the (doc, word)-scale table
    # is re-keyed. tfs feeds three consumers: materialize it once.
    tfs = (
        words.groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    doc_len = tfs.groupBy("doc_id").agg(F.sum("cnt").alias("n"))
    dfs = tfs.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # corpus size stays IN the plan (1-row agg broadcast-cross-joined),
    # so the whole query is one job with no eager driver-side action.
    n_total = d.agg(F.count("*").cast("double").alias("n_docs"))
    tfidf = (F.col("cnt").cast("double") / F.col("n")) * F.log(
        F.col("n_docs") / F.col("df")
    )
    return (
        tfs.join(doc_len, "doc_id")
        .join(dfs, "word")
        .crossJoin(F.broadcast(n_total))
        .select("doc_id", "word", "df", F.round(tfidf, 6).alias("tfidf"))
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH sh AS ({NGRAM_SHINGLES_SQL})
    SELECT doc_id, MIN(md5(shingle)) AS fingerprint
    FROM sh GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: minimum shingle hash per doc (a k=1
    MinHash signature / winnowing-style representative) — an
    order-invariant near-dup key. Computed over the df-capped shingle
    set (_shingle_df): fingerprints from boilerplate shingles collide
    across unrelated docs, so hot shingles are excluded — same cap,
    mirrored in the oracle SQL."""
    d = t(spark, sf_dir, "documents")
    return _shingle_df(d).groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------

MULTIMODAL_SCHEMA = (
    "doc_id long, width long, height long, n_pixels long, px_sum long, "
    "px_min long, px_max long"
)


def _png_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched ENCODE stage: a deterministic 8-bit grayscale PNG
    per document (geometry and pixels derived from doc_id, so the
    decoded statistics have a closed-form SQL oracle). These are REAL
    PNG bytes — signature, CRC'd chunks, zlib IDAT — standing in for
    the binary fixture column the schema reserves."""
    from hello_flink_spark.operators.png_codec import encode_png_gray

    for pdf in batches:
        payloads = []
        for d in pdf["doc_id"]:
            d = int(d)
            w, h = d % 16 + 1, (d * 7) % 16 + 1
            payloads.append(
                encode_png_gray(w, h, lambda x, y, d=d: (d + 31 * x + 17 * y) % 256)
            )
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _png_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched DECODE stage (VERDICT r06 #6 — the real thing, no
    deterministic fake): parse + CRC-verify + inflate + unfilter each
    payload with the stdlib codec (operators/png_codec.py) and emit
    typed metadata + pixel statistics. Per-batch Python cost is
    O(pixels); on a cluster this stage scales with input partitions
    exactly like any other mapInPandas."""
    from hello_flink_spark.operators.png_codec import decode_png_gray

    for pdf in batches:
        rows = []
        for d, blob in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px = decode_png_gray(bytes(blob))
            rows.append(
                {
                    "doc_id": int(d),
                    "width": w,
                    "height": h,
                    "n_pixels": w * h,
                    "px_sum": int(sum(px)),
                    "px_min": int(min(px)),
                    "px_max": int(max(px)),
                }
            )
        # explicit columns: an empty Arrow batch must still yield a
        # frame carrying the output schema's names (a zero-column
        # DataFrame breaks mapInPandas' by-name serialization)
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "n_pixels", "px_sum", "px_min", "px_max"],
        )


@register(
    "multimodal_load",
    oracle="""
    WITH xs AS (SELECT CAST(range AS BIGINT) AS g FROM range(0, 16)),
         ys AS (SELECT CAST(range AS BIGINT) AS g FROM range(0, 16))
    SELECT d.doc_id,
           CAST(d.doc_id % 16 + 1 AS BIGINT) AS width,
           CAST((d.doc_id * 7) % 16 + 1 AS BIGINT) AS height,
           CAST((d.doc_id % 16 + 1) * ((d.doc_id * 7) % 16 + 1) AS BIGINT) AS n_pixels,
           CAST(SUM((d.doc_id + 31 * xs.g + 17 * ys.g) % 256) AS BIGINT) AS px_sum,
           CAST(MIN((d.doc_id + 31 * xs.g + 17 * ys.g) % 256) AS BIGINT) AS px_min,
           CAST(MAX((d.doc_id + 31 * xs.g + 17 * ys.g) % 256) AS BIGINT) AS px_max
    FROM documents d
    JOIN xs ON xs.g <= d.doc_id % 16
    JOIN ys ON ys.g <= (d.doc_id * 7) % 16
    GROUP BY d.doc_id
    """,
)
def multimodal_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column handling, REAL decode tier: an opaque
    BinaryType payload column carrying genuine PNG bytes, decoded —
    signature check, chunk CRC verification, zlib inflate, scanline
    unfilter — inside the Arrow ``mapInPandas`` path
    (operators/png_codec.py, stdlib-only since the container ships no
    image libs). The oracle verifies the DECODED pixel statistics
    against their closed form, so a decoder bug (wrong stride, filter
    mishandling, truncation) fails the driver hash gate. With external
    blobs the same plan applies — binaryFile source, partition by
    size, same decode stage (tests/test_llm.py drives that source
    path)."""
    d = t(spark, sf_dir, "documents")
    payload = d.select("doc_id").mapInPandas(
        _png_encode_batches, schema="doc_id long, payload binary"
    )
    return payload.mapInPandas(_png_decode_batches, schema=MULTIMODAL_SCHEMA)


# Decontamination bench set: a constant-bounded id slice (same scaling
# contract as PROBE_ID_MAX): at most BENCH_ID_MAX/101 benchmark docs no
# matter how large the corpus grows, so the bench shingle table stays
# broadcastable at any scale factor.
BENCH_ID_MAX = 2000
BENCH_PRED_SQL = "doc_id % 101 = 0 AND doc_id < 2000"
CONTAM_MIN_SHARED = 2


@register(
    "text_decontaminate",
    oracle=f"""
    WITH sh AS ({NGRAM_SHINGLES_SQL}),
    bench AS (SELECT * FROM sh WHERE {BENCH_PRED_SQL}),
    train AS (SELECT * FROM sh WHERE NOT ({BENCH_PRED_SQL})),
    bsizes AS (SELECT doc_id, COUNT(*) AS n FROM bench GROUP BY doc_id)
    SELECT b.doc_id AS bench_id, a.doc_id AS train_id,
           COUNT(*) AS shared_shingles,
           ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(bs.n), 6) AS containment
    FROM bench b
    JOIN train a ON a.shingle = b.shingle
    JOIN bsizes bs ON bs.doc_id = b.doc_id
    GROUP BY bench_id, train_id
    HAVING COUNT(*) >= {CONTAM_MIN_SHARED}
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark decontamination — the standard n-gram containment
    sweep an LLM training pipeline runs before training: flag every
    (benchmark doc, training doc) pair sharing >= CONTAM_MIN_SHARED
    3-gram shingles, with containment = shared / |bench shingles|.

    Scale shape: the bench side is a CONSTANT-bounded id slice
    (BENCH_ID_MAX — broadcastable forever); the corpus side is one
    df-capped shingle scan (shared _shingle_df helper, so hot
    boilerplate shingles can't go quadratic). Equi-join on shingle +
    two hash aggs — no all-pairs anywhere. Round-17: the shingle frame
    materializes once (checkpoint=True) — the bench filter (twice:
    bsizes + the join side) and the train filter each recomputed the
    scan+explode+distinct subtree before."""
    d = t(spark, sf_dir, "documents")
    shingles = _shingle_df(d, checkpoint=True)
    bench_pred = (F.col("doc_id") % 101 == 0) & (F.col("doc_id") < BENCH_ID_MAX)
    bench = shingles.filter(bench_pred)
    train = shingles.filter(~bench_pred)
    bsizes = bench.groupBy("doc_id").agg(F.count("*").alias("n"))
    # Round-18 (guide §3.1, VERDICT r17 #7): broadcast the BENCH side —
    # the before-plan showed the planner broadcasting the TRAIN
    # (corpus) side, because the checkpointed frame defeats size
    # estimation: correct on fixtures, unbounded at scale. The bench
    # slice is bounded in DOCUMENT count by construction
    # (≤ BENCH_ID_MAX/101), but its shingle ROWS scale with document
    # length, so the hint follows the repo's bounded-broadcast
    # protocol (anti_join_bounded, VERDICT r05): probe the row count
    # with a LIMIT-bounded count over the already-checkpointed shingle
    # frame (one tiny map-only job) and fall back to the hint-free
    # join — AQE decides — past HOT_BROADCAST_MAX rows. Either path
    # returns identical rows.
    n_bench = bench.limit(scale.HOT_BROADCAST_MAX + 1).count()
    bench_b = F.broadcast(bench) if n_bench <= scale.HOT_BROADCAST_MAX else bench
    joined = (
        bench_b.alias("b")
        .join(train.alias("a"), F.col("a.shingle") == F.col("b.shingle"))
        .groupBy(
            F.col("b.doc_id").alias("bench_id"), F.col("a.doc_id").alias("train_id")
        )
        .agg(F.count("*").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= CONTAM_MIN_SHARED)
    )
    return (
        joined.join(F.broadcast(bsizes.alias("bs")), F.col("bench_id") == F.col("bs.doc_id"))
        .select(
            "bench_id",
            "train_id",
            "shared_shingles",
            F.round(
                F.col("shared_shingles").cast("double") / F.col("bs.n"), 6
            ).alias("containment"),
        )
    )


@register(
    "sim_maxsim",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.label,
             MAX(ROUND(
               list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_inner_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))),
               6)) AS maxsim
      FROM embeddings q JOIN embeddings c
        ON q.vec_id % 100 = 0 AND q.vec_id < {PROBE_ID_MAX} AND c.vec_id != q.vec_id
      GROUP BY query_id, c.label
    )
    SELECT query_id, label, maxsim, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY maxsim DESC, label) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim retrieval (the multi-vector pooling of
    ColBERT-style scoring): each label's vector set is a multi-vector
    document; score(query, label) = MAX cosine over the label's
    vectors (max-pooling, vs sim_label_centroids' mean-pooling), top-3
    labels per probe. Same bounded-broadcast-probe scale shape as
    sim_knn (PROBE_ID_MAX), one hash agg + partitioned Top-N on top;
    ranking uses ROUNDED similarities so sub-1e-6 float noise cannot
    reorder the cut."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PROBE_ID_MAX)
    ).select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qvec")
    )
    cands = e.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        _as_double(F.col("embedding")).alias("cvec"),
    )
    scored = (
        cands.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "label")
        .agg(
            F.max(F.round(_cosine(F.col("qvec"), F.col("cvec")), 6)).alias("maxsim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("maxsim").desc(), F.col("label"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
    )


@register(
    "text_langid_eval",
    oracle="""
    WITH pred AS (
      SELECT lang AS truth,
             CASE WHEN CAST(len(list_filter(string_split(lower(trim(text)), ' '),
                                            x -> x = 'the' OR x = 'a')) AS DOUBLE)
                       / len(string_split(lower(trim(text)), ' ')) >= 0.08
                  THEN 'en_like' ELSE 'other' END AS guess
      FROM documents
    )
    SELECT truth, guess, COUNT(*) AS cnt
    FROM pred GROUP BY truth, guess
    """,
)
def text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation over the corpus: confusion counts of the
    text_lang_id heuristic against the fixture's ground-truth ``lang``
    column — the eval aggregate every pipeline runs before trusting a
    filter (precision/recall derive from these four cells). One scan +
    one hash agg."""
    d = t(spark, sf_dir, "documents")
    toks = _tokens()
    ratio = F.size(F.filter(toks, lambda x: (x == "the") | (x == "a"))).cast(
        "double"
    ) / F.size(toks)
    return (
        d.select(
            F.col("lang").alias("truth"),
            F.when(ratio >= 0.08, "en_like").otherwise("other").alias("guess"),
        )
        .groupBy("truth", "guess")
        .agg(F.count("*").alias("cnt"))
    )
