"""Round-3 extension operators beyond the SURVEY §2 core inventory.

Registered LAST (registry._QUERY_MODULES) on purpose: the driver's
correctness window prioritizes never-verified queries in registration
order, and the 45 queries declared in round 2 must clear the gate
before these newcomers take slots.

Families:
- reshaping: ``agg_pivot`` / ``agg_unpivot`` (wide<->long, the
  feature-matrix shape of a training-data pipeline);
- text analysis (BASELINE.json north star): ``text_token_count``
  (whitespace + BPE-ish regex tokenization), ``text_quality_score``
  (length / punctuation / stopword-ratio composite with a keep flag);
- sources: ``scan_orc`` (the third first-class columnar format);
- multimodal: ``multimodal_frame_sample`` (1→N frame sampling through
  Arrow-batched mapInPandas — the video-pipeline plumbing shape);
- functions: ``fn_bitwise`` (shift/and/or/xor/bit_count family).

[F] no Flink-tutorial equivalent for the text/multimodal rows — they
extend the surface per BASELINE.json:6; pivot/ORC/bitwise mirror
Flink SQL capabilities (PIVOT via CASE aggregation, orc format,
bit functions). Empty reference checkout (SURVEY §0).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hello_flink_spark.queries.sources import _ensure, _fixture_dir
from hello_flink_spark.registry import register
from hello_flink_spark.sources.readers import load_table as t

ORDER_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
# marks — the GPT-2-style split classes without the byte-level merge
# table (space class spelled literally so the regex is identical in
# Java regex and RE2).
BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


_PIVOT_COLS_SQL = ", ".join(
    "COUNT(*) FILTER (WHERE o_orderpriority = '{p}') AS \"{p}\"".format(p=p)
    for p in ORDER_PRIORITIES
)

# ---------------------------------------------------------------------------
# The text-quality composite — SINGLE SOURCE OF TRUTH (review r09: it
# was typed verbatim in three Spark plans and three oracle strings).
# Spark side: text_quality_columns(); SQL side: the TQ_SQL_* snippets,
# every oracle builds from these so the formula cannot drift.
# ---------------------------------------------------------------------------

TQ_STOPWORDS = ("the", "a", "of", "to", "and")

TQ_SQL_LOW = "lower(trim(text))"
TQ_SQL_TOKS = f"string_split({TQ_SQL_LOW}, ' ')"
TQ_SQL_NWORDS = f"len({TQ_SQL_TOKS})"
TQ_SQL_PUNCT = (
    f"CAST(length({TQ_SQL_LOW}) - length(regexp_replace({TQ_SQL_LOW}, "
    f"'[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length({TQ_SQL_LOW})"
)
TQ_SQL_STOP = (
    f"CAST(len(list_filter({TQ_SQL_TOKS}, tok -> tok IN "
    f"('the', 'a', 'of', 'to', 'and'))) AS DOUBLE) / {TQ_SQL_NWORDS}"
)
TQ_SQL_QUALITY = (
    f"LEAST(CAST({TQ_SQL_NWORDS} AS DOUBLE) / 50, 1.0) * 0.5"
    f" + {TQ_SQL_STOP} * 0.3 + (1 - {TQ_SQL_PUNCT}) * 0.2"
)


def text_quality_columns():
    """The shared Spark Columns of the quality composite over the
    ``text`` column: (low, n_words, punct_ratio, stop_ratio, quality).
    Used by text_quality_score, pipeline_training_corpus, and
    pipeline_multimodal_manifest — one formula, three gates."""
    low = F.lower(F.trim(F.col("text")))
    toks = F.split(low, " ")
    n_words = F.size(toks)
    punct = (
        F.length(low) - F.length(F.regexp_replace(low, "[^a-z0-9 ]", ""))
    ).cast("double") / F.length(low)
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*TQ_STOPWORDS))).cast("double")
        / n_words
    )
    quality = (
        F.least(n_words.cast("double") / 50, F.lit(1.0)) * 0.5
        + stop_ratio * 0.3
        + (1 - punct) * 0.2
    )
    return low, n_words, punct, stop_ratio, quality


@register(
    "agg_pivot",
    oracle=f"""
    SELECT o_orderstatus, {_PIVOT_COLS_SQL}
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide reshaping: order counts by status x priority. Explicit pivot
    values (no discovery pass over the data) keep this a single shuffle
    with map-side partial aggregation — the same cost as agg_multi_key.
    Absent combinations are 0 (not NULL) to match COUNT FILTER."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", ORDER_PRIORITIES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, ORDER_PRIORITIES)
    )


@register(
    "agg_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long reshaping (melt): part metrics to (key, metric, val) rows —
    stateless projection, no shuffle; columns unified to DOUBLE as
    unpivot requires one value type."""
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    )
    return p.unpivot(["p_partkey"], ["p_size", "p_retailprice"], "metric", "val")


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(trim(text)), '{BPE_ISH_PATTERN}')) AS BIGINT)
             AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for budget/packing decisions: whitespace tokens
    and a BPE-ish regex pre-tokenization (letter runs / digit runs /
    punctuation marks) per document — pure JVM expressions, one pass,
    no shuffle."""
    d = t(spark, sf_dir, "documents")
    low = F.lower(F.trim(F.col("text")))
    return d.select(
        "doc_id",
        F.size(F.split(low, " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(low, F.lit(BPE_ISH_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST({TQ_SQL_NWORDS} AS BIGINT) AS n_words,
           ROUND({TQ_SQL_PUNCT}, 6) AS punct_ratio,
           ROUND({TQ_SQL_STOP}, 6) AS stop_ratio,
           ROUND({TQ_SQL_QUALITY}, 6) AS quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (training-data filtering): word count,
    punctuation ratio, stopword ratio, and a weighted composite in
    [0, 1] — 0.5·min(words/50, 1) + 0.3·stop_ratio + 0.2·(1−punct).
    All built-in expressions, one pass; at scale this runs as a
    pushdown-friendly projection feeding a threshold filter. The
    formula lives in text_quality_columns()/TQ_SQL_* — the single
    source shared with the corpus and multimodal-manifest capstones."""
    d = t(spark, sf_dir, "documents")
    _, n_words, punct, stop_ratio, quality = text_quality_columns()
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(quality, 6).alias("quality"),
    )


@register(
    "scan_orc",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS supp_cnt,
           ROUND(SUM(s_acctbal), 2) AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] filesystem connector, orc format — the third first-class
    columnar format (vectorized reader, predicate pushdown, column
    pruning, same as parquet). Fixture = supplier round-tripped through
    our own ORC write; the oracle runs on the original parquet view, so
    the hash also proves the ORC round-trip is lossless."""
    path = _ensure(
        _fixture_dir(sf_dir, "supplier_orc"),
        lambda p: t(spark, sf_dir, "supplier").write.mode("overwrite").orc(p),
    )
    return (
        spark.read.orc(path)
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("supp_cnt"), F.round(F.sum("s_acctbal"), 2).alias("total_bal"))
    )


FRAME_STRIDE = 4
FRAME_SAMPLE_SCHEMA = "doc_id long, frame_idx long, width long, height long, px_sum long"
# minimal multi-frame container: magic + frame count + length-prefixed
# REAL PNG frames (round 7 — the video path's decode is no longer a
# fake; a production deployment swaps the container parse for an MP4
# demuxer behind the same mapInPandas signature)
VIDEO_MAGIC = b"PNGV"


def _video_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched ENCODE: per document a deterministic multi-frame
    clip — doc_id % 8 + 2 genuine PNG frames (geometry and pixels
    derived from (doc_id, frame index), so sampled-frame statistics
    have a closed-form SQL oracle) in the length-prefixed container."""
    import struct as _struct

    from hello_flink_spark.operators.png_codec import encode_png_gray

    for pdf in batches:
        payloads = []
        for d in pdf["doc_id"]:
            d = int(d)
            n = d % 8 + 2
            frames = [
                encode_png_gray(
                    d % 8 + 1,
                    (d * 3) % 8 + 1,
                    lambda x, y, d=d, k=k: (d + 31 * x + 17 * y + 97 * k) % 256,
                )
                for k in range(n)
            ]
            payloads.append(
                VIDEO_MAGIC
                + _struct.pack(">I", n)
                + b"".join(_struct.pack(">I", len(f)) + f for f in frames)
            )
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _frame_sample_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched 1→N frame sampling with REAL decode: parse the
    container, take every FRAME_STRIDE-th frame, and run each sampled
    frame through the stdlib PNG decoder (CRC check, inflate,
    unfilter) — skipped frames are never decoded, which is the entire
    point of stride sampling (decode cost scales with SAMPLED frames,
    not stored ones)."""
    from hello_flink_spark.operators.imaging import iter_pngv_frames
    from hello_flink_spark.operators.png_codec import decode_png_gray

    for pdf in batches:
        rows = []
        for d, blob in zip(pdf["doc_id"], pdf["payload"]):
            for k, frame in enumerate(iter_pngv_frames(bytes(blob))):
                if k % FRAME_STRIDE == 0:
                    w, h, px = decode_png_gray(frame)
                    rows.append(
                        {
                            "doc_id": int(d),
                            "frame_idx": k,
                            "width": w,
                            "height": h,
                            "px_sum": int(sum(px)),
                        }
                    )
        # explicit columns so an empty batch keeps the output schema
        # (zero-column frames break mapInPandas by-name serialization)
        yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "width", "height", "px_sum"])


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH ks AS (SELECT CAST(range AS BIGINT) AS g FROM range(0, 16)),
         xs AS (SELECT CAST(range AS BIGINT) AS g FROM range(0, 8)),
         ys AS (SELECT CAST(range AS BIGINT) AS g FROM range(0, 8))
    SELECT d.doc_id, ks.g AS frame_idx,
           CAST(d.doc_id % 8 + 1 AS BIGINT) AS width,
           CAST((d.doc_id * 3) % 8 + 1 AS BIGINT) AS height,
           CAST(SUM((d.doc_id + 31 * xs.g + 17 * ys.g + 97 * ks.g) % 256)
                AS BIGINT) AS px_sum
    FROM documents d
    JOIN ks ON ks.g < d.doc_id % 8 + 2 AND ks.g % {FRAME_STRIDE} = 0
    JOIN xs ON xs.g <= d.doc_id % 8
    JOIN ys ON ys.g <= (d.doc_id * 3) % 8
    GROUP BY d.doc_id, ks.g
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal 1→N row expansion with REAL decode (round 7, like
    multimodal_load): every FRAME_STRIDE-th frame of a genuine
    multi-PNG clip is decoded — CRC-verified, inflated, unfiltered —
    inside Arrow-batched mapInPandas, and the oracle verifies the
    DECODED per-frame pixel statistics in closed form. Skipped frames
    are never decoded (stride sampling's cost contract). Partitioning
    carries over from the scan; no shuffle."""
    d = t(spark, sf_dir, "documents")
    payload = d.select("doc_id").mapInPandas(
        _video_encode_batches, schema="doc_id long, payload binary"
    )
    return payload.mapInPandas(_frame_sample_decode, schema=FRAME_SAMPLE_SCHEMA)


@register(
    "agg_time_rollup",
    oracle="""
    SELECT 'hour' AS grain,
           ts - to_microseconds(epoch_us(ts) % 3600000000) AS bucket_start,
           event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY bucket_start, event_type
    UNION ALL
    SELECT 'day' AS grain,
           ts - to_microseconds(epoch_us(ts) % 86400000000) AS bucket_start,
           event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY bucket_start, event_type
    """,
)
def agg_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hourly AND daily
    aggregates of the event stream in one declared op — the
    continuous-aggregate shape of a time-series store. Computed as the
    hourly hash-aggregate (the expensive pass over the raw events)
    re-aggregated into days, so the raw table is scanned ONCE and the
    daily tier reduces ~24:1 pre-shuffled data — at 100 TB the second
    tier is negligible vs a second scan. Buckets are epoch-arithmetic
    (timezone-independent, matches the window_* oracles)."""
    e = t(spark, sf_dir, "events")
    ep = F.col("ts").cast("long")
    hourly = (
        e.withColumn("hour_start", F.timestamp_seconds(ep - (ep % 3600)))
        .groupBy("hour_start", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("raw_value"))
    )
    hour_tier = hourly.select(
        F.lit("hour").alias("grain"),
        F.col("hour_start").alias("bucket_start"),
        "event_type",
        "cnt",
        F.round("raw_value", 2).alias("total_value"),
    )
    dep = F.col("hour_start").cast("long")
    day_tier = (
        hourly.withColumn("day_start", F.timestamp_seconds(dep - (dep % 86400)))
        .groupBy("day_start", "event_type")
        .agg(F.sum("cnt").alias("cnt"), F.round(F.sum("raw_value"), 2).alias("total_value"))
        .select(
            F.lit("day").alias("grain"),
            F.col("day_start").alias("bucket_start"),
            "event_type",
            "cnt",
            "total_value",
        )
    )
    return hour_tier.unionByName(day_tier)


@register(
    "agg_percentile_exact",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, both exact linear interpolation — unlike
    the sketch-based agg_stats percentile_approx row). Exact
    percentiles buffer each group's values: at 100 TB prefer
    percentile_approx (bounded-memory sketch, also declared); this op
    is the accuracy-tier escape hatch."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "join_skew_salted",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS line_cnt,
           ROUND(SUM(l.l_extendedprice), 2) AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew toolbox (operators/scale.py::salted_join) as a declared
    query: lineitem salted into 16 sub-keys, orders exploded to all
    salts, then the usual aggregate. Salting is PHYSICAL only — the
    oracle is the plain join, proving result equivalence — and is the
    manual escape hatch for the pathological hot key that AQE's
    skew-join splitting can't fix (one key ~ one executor's worth).
    """
    from hello_flink_spark.operators.scale import salted_join

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, key="l_orderkey", salt=16)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("line_cnt"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


FP_BUCKET_CAP = 32  # max docs per fingerprint bucket before the bucket
# is excluded from Levenshtein candidate generation (k² pairs per
# bucket; fixture max is 19 at sf0.1, so results are unchanged)


def _lev_fp_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CANDIDATE stage of dedup_fingerprint_levenshtein — fp-capped
    equi-self-join pairs, before the Levenshtein verify. Factored out so
    scripts/scaling_probe_sf1.py can count it directly (VERDICT r13 #6:
    the band-edge op emits its candidate count in the sf1 probe like
    the multimodal dedup trio, so a fixture/data change that pushes the
    verify term superlinear is caught by the probe, not the bench
    gate). Composition identical to the inline form it replaced."""
    from hello_flink_spark.operators.scale import anti_join_bounded
    from hello_flink_spark.queries.llm import text_fingerprint

    # One fingerprint row per doc (text_fingerprint's frame);
    # materialize once — the hot-bucket branch and the candidate
    # self-join both consume it, and without
    # the checkpoint each re-runs the whole shingle pipeline (the same
    # double-compute anti_join_bounded guards against for its keys).
    # Repartition WIDE before checkpointing: AQE coalesces the small
    # aggregate to one partition, the checkpoint freezes that layout,
    # and every downstream join broadcasts its other side — so the
    # O(len^2) Levenshtein verify would inherit ONE task (measured:
    # 10 s of an 11.5 s wall on one core; cost-based coalescing cannot
    # see per-row CPU weight). 32-wide checkpoint -> 32-wide verify
    # (measured 0.9 s for the same stage).
    fp0 = (
        text_fingerprint(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .localCheckpoint(eager=True)
    )
    hot = (
        fp0.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") > FP_BUCKET_CAP)
        .select("fingerprint")
    )
    fp = anti_join_bounded(fp0, hot, "fingerprint")
    return (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )


@register(
    "dedup_fingerprint_levenshtein",
    oracle="""
    WITH sh AS (
      SELECT doc_id, shingle FROM (
        SELECT DISTINCT doc_id, tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] AS shingle
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens FROM documents),
             UNNEST(generate_series(1, GREATEST(len(tokens) - 2, 0))) AS u(i)
      ) QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50
    ),
    fp0 AS (SELECT doc_id, MIN(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id),
    fp AS (SELECT doc_id, fingerprint FROM fp0
           QUALIFY COUNT(*) OVER (PARTITION BY fingerprint) <= 32),
    cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
    FROM cand
    JOIN documents da ON da.doc_id = doc_a
    JOIN documents db ON db.doc_id = doc_b
    WHERE levenshtein(da.text, db.text)
          <= CAST(0.2 * GREATEST(length(da.text), length(db.text)) AS BIGINT)
    """,
)
def dedup_fingerprint_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup with bucketed candidates: pairs come from
    EQUALITY on the min-shingle-hash fingerprint (text_fingerprint's
    key — an equi-join, never all-pairs), then the O(len²) Levenshtein
    runs only on those candidates, keeping pairs within 20% relative
    edit distance. This is the verify-stage shape for expensive
    pairwise measures at 100 TB: cheap banded candidate generation,
    exact confirmation on the survivors (same pattern as
    dedup_simhash's bit_count filter).

    Hot buckets are capped (FP_BUCKET_CAP, same hot-list + broadcast
    anti-join as the shingle df-cap, mirrored in the oracle): a
    fingerprint shared by k docs emits k² candidates, and mass-
    duplicated boilerplate belongs to dedup_exact, which runs first in
    a real pipeline. Fixture max bucket is 19 (sf0.1) — results
    unchanged."""
    d = t(spark, sf_dir, "documents")
    cand = _lev_fp_candidates(spark, sf_dir)
    texts = d.select("doc_id", "text")
    lev = F.levenshtein(F.col("da.text"), F.col("db.text"))
    bound = (0.2 * F.greatest(F.length("da.text"), F.length("db.text"))).cast("long")
    return (
        cand.join(texts.alias("da"), F.col("doc_a") == F.col("da.doc_id"))
        .join(texts.alias("db"), F.col("doc_b") == F.col("db.doc_id"))
        .filter(lev <= bound)
        .select("doc_a", "doc_b", lev.cast("long").alias("edit_dist"))
    )


MINHASH_SQL_K = 8  # signature length; 4 bands x 2 rows


@register(
    "dedup_minhash_sql",
    oracle="""
    WITH sh AS (
      SELECT doc_id, shingle FROM (
        SELECT DISTINCT doc_id, tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] AS shingle
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens FROM documents),
             UNNEST(generate_series(1, GREATEST(len(tokens) - 2, 0))) AS u(i)
      ) QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50
    ),
    hashed AS (
      SELECT doc_id, s.seed, MIN(substr(md5(s.seed || ':' || shingle), 1, 16)) AS mh
      FROM sh, (SELECT UNNEST(generate_series(0, 7)) AS seed) s
      GROUP BY doc_id, s.seed
    ),
    bands AS (
      SELECT doc_id, seed // 2 AS band,
             string_agg(seed || ':' || mh, '|' ORDER BY seed) AS band_val
      FROM hashed GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END) / 8.0, 3) AS est_jaccard
    FROM cand c
    JOIN hashed ha ON ha.doc_id = c.doc_a
    JOIN hashed hb ON hb.doc_id = c.doc_b AND hb.seed = ha.seed
    GROUP BY c.doc_a, c.doc_b
    """,
)
def dedup_minhash_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding as pure deterministic expressions — the
    fully oracle-checkable twin of dedup_minhash (whose ml MinHashLSH
    signatures are engine-specific, rows-only). Per doc: 8 MinHash
    components (min md5 over seed-salted shingles), packed into 4
    bands of 2; candidate pairs share a band (equi-join — the
    sub-quadratic LSH shape); output the signature-agreement Jaccard
    estimate. Every stage is a hash aggregate or equi-join with
    map-side combine — linear in corpus size plus banded pair output.
    """
    from hello_flink_spark.operators.joins import pair_counts
    from hello_flink_spark.operators.scale import spread_small_scan
    from hello_flink_spark.queries.llm import _shingle_df

    # round-18 (guide §2.5 input skew / §6 split sizing): spread the
    # narrow document feed before the shingle explode + 8-seed md5 map
    # stage — the same r12 fix dedup_ngram_jaccard carries. A modest
    # corpus parquet arrives as ONE split, serializing the query's
    # dominant CPU stage (md5 of every (seed, shingle)) on one core at
    # ANY core count: the round-18 sf1 core probe measured c8/c32 =
    # 0.98 on this query before the spread. No-op on many-split scans.
    d = spread_small_scan(t(spark, sf_dir, "documents"))
    sh = _shingle_df(d)
    hashed = (
        sh.withColumn("seed", F.explode(F.sequence(F.lit(0), F.lit(MINHASH_SQL_K - 1))))
        .groupBy("doc_id", "seed")
        .agg(
            F.min(
                F.substring(F.md5(F.concat_ws(":", F.col("seed"), F.col("shingle"))), 1, 16)
            ).alias("mh")
        )
    )
    # round-17 (guide §2.3/§2.4): pivot the 8 per-(doc, seed) rows into
    # ONE seed-ordered signature array per doc and materialize THAT —
    # the band keys are then a map-only projection of the array
    # (replacing the second (doc, band)-keyed aggregation of the
    # signature table), the two verify sides join one row per doc
    # instead of eight, and the signature-agreement estimate is a
    # zip_with fold instead of a join-then-regroup of 8-way pair rows.
    # EAGER on purpose (r17 measured for the pre-pivot shape, same
    # race: band builder + both verify sides land in CONCURRENT stages
    # of the final job and would re-run the md5 pipeline before a lazy
    # persist fills); the checkpointed table is 1 row per doc.
    sigs = (
        hashed.groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(seed, mh))), x -> x.mh)"
            ).alias("sig")
        )
        .localCheckpoint(eager=True)
    )
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {MINHASH_SQL_K // 2 - 1}),"
                " b -> struct(CAST(b AS BIGINT) AS band,"
                " concat(CAST(b * 2 AS STRING), ':', sig[b * 2], '|',"
                "        CAST(b * 2 + 1 AS STRING), ':', sig[b * 2 + 1])"
                " AS band_val))"
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.band").alias("band"), F.col("x.band_val").alias("band_val"))
    # candidates: the distinct pairs sharing >= 1 band, the keys of the
    # band-grouped pair count (joins.pair_counts: one exchange of the
    # band table, and a hot bucket streams its pairs in O(k) per row).
    # A capped-enumeration + band-keyed-self-join-fallback variant
    # (banded_dedup's cap protocol) was measured at +25% on the benched
    # query (the grp subtree double-computes under two consumers) and
    # rejected; the residual hot-bucket COMPUTE skew (one task owns a
    # bucket's pair stream) is the same trade the self-join had on the
    # build side, now without its second shuffle.
    cand = pair_counts(
        bands, ["band", "band_val"], "doc_id", "doc_a", "doc_b", "n_bands"
    ).select("doc_a", "doc_b")
    # verify: one row per side per pair; the seed-aligned agreement
    # count is a zip_with over the two ordered signature arrays —
    # identical to the old 8-way join + regroup (mh values per (doc,
    # seed) are the same strings, compared at the same seed alignment)
    return (
        cand.join(sigs.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sigs.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.expr(
                    "size(filter(zip_with(sa.sig, sb.sig, (x, y) -> x = y), v -> v))"
                )
                / 8.0,
                3,
            ).alias("est_jaccard"),
        )
    )


@register(
    "join_asof_forward",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, ts AS purchase_ts, value AS purchase_value
      FROM (SELECT user_id, ts, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'purchase')
      WHERE rn = 1
    ), cand AS (
      SELECT c.click_id, c.user_id, c.click_ts, p.purchase_ts, p.purchase_value,
             ROW_NUMBER() OVER (PARTITION BY c.click_id ORDER BY p.purchase_ts) AS rn
      FROM clicks c LEFT JOIN purchases p
        ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
    )
    SELECT click_id, user_id, click_ts, purchase_ts, purchase_value
    FROM cand WHERE rn = 1
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, FORWARD direction: for each click, the user's
    earliest purchase at or after the click (the "time-to-next-event"
    shape). Same JVM window formulation as join_asof with the frame
    mirrored (operators/joins.py::asof_join_window direction='forward')
    — one shuffle, no range-join blow-up; the oracle replays it as a
    rank-1 filter over the forward candidates."""
    from hello_flink_spark.operators.joins import asof_join_window
    from hello_flink_spark.queries.relational import _asof_sides

    clicks, purchases = _asof_sides(spark, sf_dir)
    joined = asof_join_window(
        clicks,
        purchases,
        key="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        direction="forward",
    )
    return joined.select("click_id", "user_id", "click_ts", "purchase_ts", "purchase_value")


@register(
    "fn_struct",
    oracle="""
    SELECT event_id, user_id AS rec_user, upper(event_type) AS rec_type_up,
           ROUND(value * 2, 2) AS rec_value2
    FROM events
    """,
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] ROW<...> type (SURVEY §1.2): build a nested struct column,
    then project typed fields back out — the nested-record round-trip
    (declared output is scalars only, per the gate's no-collection-cell
    rule; the struct lives mid-plan)."""
    e = t(spark, sf_dir, "events")
    rec = F.struct(
        F.col("user_id").alias("u"), F.col("event_type").alias("t"), F.col("value").alias("v")
    )
    return e.select("event_id", rec.alias("rec")).select(
        "event_id",
        F.col("rec.u").alias("rec_user"),
        F.upper(F.col("rec.t")).alias("rec_type_up"),
        F.round(F.col("rec.v") * 2, 2).alias("rec_value2"),
    )


@register(
    "agg_boolean",
    oracle="""
    SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 400000) AS any_huge
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] Flink SQL boolean aggregates (COUNT_IF / EVERY / SOME) —
    count_if, bool_and, bool_or per group; codegen expressions, one
    shuffle with partial aggregation."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_huge"),
    )


@register("sample_stratified", oracle=None)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling by stratum key (training-data rebalancing):
    seeded `sampleBy` with a per-source fraction map — each stratum is
    Bernoulli-sampled at its own rate in one scan, no shuffle.

    PERMANENT no_oracle (r11 R-row audit): `sampleBy` draws from
    Spark's seeded XORShiftRandom — the seeded-RNG sampler IS this
    row's surveyed surface and no other engine reproduces the stream.
    Per-stratum rate bounds asserted in tests/test_llm.py; the
    engine-portable deterministic alternatives are the hash-green
    `sample_deterministic_hash` and (since r11) `split_train_test`."""
    d = t(spark, sf_dir, "documents")
    # keep even-numbered sources whole, downsample odd ones 4x — the
    # "rebalance over-represented strata" move (fixture sources are
    # src0..src19 at every SF).
    fractions = {f"src{i}": (1.0 if i % 2 == 0 else 0.25) for i in range(20)}
    return d.sampleBy("source", fractions, seed=42)


@register(
    "split_train_test",
    oracle="""
    SELECT doc_id, source,
           CASE WHEN CAST(('0x' || substr(
                    md5('split:42:' || CAST(doc_id AS VARCHAR)), 1, 8
                )) AS BIGINT) % 100 < 90
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test split — the reproducible-pipeline
    alternative to randomSplit (whose split depends on partitioning):
    hash the stable doc_id with a seed salt, mod 100, <90 = train.
    Pure expressions, one scan, rerunnable with identical assignment
    on any cluster layout.

    R → O promotion (r11, VERDICT r10 #6): the salted draw is the
    md5-prefix u32 (the portable `data_mixture_epochs` device) instead
    of the Spark-only xxhash64, so the DuckDB oracle recomputes the
    identical assignment and the driver gate pins the split itself —
    not just its disjoint+complete invariant (still in
    tests/test_llm.py)."""
    d = t(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split:42:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long") % 100
    return d.select(
        "doc_id",
        "source",
        F.when(bucket < 90, "train").otherwise("test").alias("split"),
    )


@register("agg_hll_mergeable", oracle=None)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via Spark built-ins)
    — THE 100 TB distinct-counting architecture: build one sketch per
    group in a single pass, then UNION the group sketches to get the
    global cardinality without rescanning (sketches merge
    associatively across partitions, days, or clusters). Per-type
    estimates + an 'ALL' union row. Sketch bytes are engine-specific →
    rows-only at the gate; error-vs-exact invariant in
    tests/test_llm.py."""
    e = t(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    estimates = per_type.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    union_row = per_type.agg(
        F.hll_union_agg("sk").alias("sk")
    ).select(F.lit("ALL").alias("event_type"), F.hll_sketch_estimate("sk").alias("approx_users"))
    return estimates.unionByName(union_row)


@register(
    "pipeline_training_corpus",
    oracle=f"""
    WITH quality AS (
      SELECT doc_id, lang, {TQ_SQL_LOW} AS low,
             {TQ_SQL_NWORDS} AS n_words, {TQ_SQL_QUALITY} AS q
      FROM documents
    ),
    kept AS (SELECT * FROM quality WHERE q >= 0.5),
    deduped AS (
      SELECT * FROM kept
      QUALIFY ROW_NUMBER() OVER (PARTITION BY sha256(low) ORDER BY doc_id) = 1
    )
    SELECT CASE WHEN doc_id % 10 < 9 THEN 'train' ELSE 'test' END AS split,
           lang, COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words
    FROM deduped GROUP BY split, lang
    """,
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation as ONE declarative plan —
    the composition story: quality-score filter (text_quality_score's
    formula) → exact dedup (dedup_exact's normalized hash, keep lowest
    doc_id) → deterministic 90/10 split (doc_id % 10, oracle-mirrorable
    unlike the xxhash split) → per-(split, lang) corpus stats. Catalyst
    fuses the filter+projection into the scan, the dedup is one
    shuffle on the hash, the final rollup one more — no intermediate
    materialization, which is exactly why the operators are DataFrame
    combinators rather than scripts."""
    d = t(spark, sf_dir, "documents")
    low, n_words, _, _, quality = text_quality_columns()
    kept = d.select(
        "doc_id", "lang", low.alias("low"), n_words.alias("n_words"), quality.alias("q")
    ).filter(F.col("q") >= 0.5)
    w = Window.partitionBy(F.sha2(F.col("low"), 256)).orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        deduped.withColumn(
            "split", F.when(F.col("doc_id") % 10 < 9, "train").otherwise("test")
        )
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_words").alias("total_words"))
    )


@register(
    "scan_csv_malformed",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS nation_cnt,
           MIN(n_name) AS first_name,
           MIN(n_nationkey) AS min_key
    FROM nation GROUP BY n_regionkey
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on ingest: a CSV fixture of the nation
    table with garbage lines appended (wrong arity, unparseable ints)
    read in DROPMALFORMED mode with an explicit schema — only the
    well-formed rows survive, so the oracle over the clean nation view
    proves exactly the garbage was dropped. The PERMISSIVE +
    _corrupt_record variant is the capture-don't-drop alternative
    (same reader, mode flag).

    Caveat this query deliberately exercises: CSV malformed detection
    only sees the columns the plan actually reads (column pruning), so
    a pruned single-column aggregate would let a short row slip
    through as NULL. The aggregate therefore touches every schema
    column — full-row validation — which is the pattern (or disable
    spark.sql.csv.parser.columnPruning.enabled) for strict ingest."""
    def write(p: str) -> None:
        t(spark, sf_dir, "nation").coalesce(1).write.mode("overwrite").option(
            "header", True
        ).csv(p)
        import glob

        part = glob.glob(os.path.join(p, "part-*.csv"))[0]
        with open(part, "a") as f:
            f.write("BROKEN LINE WITHOUT COMMAS\n")
            f.write("not_an_int,garbage_name,also_not_int\n")
            f.write("1,too,many,fields,here,extra\n")
        # the out-of-band append invalidates Hadoop's local-FS .crc
        # sidecars -> ChecksumException on read; drop them.
        for crc in glob.glob(os.path.join(p, ".*.crc")):
            os.remove(crc)

    path = _ensure(_fixture_dir(sf_dir, "nation_csv_malformed"), write)
    df = (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    return df.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("nation_cnt"),
        F.min("n_name").alias("first_name"),
        F.min("n_nationkey").alias("min_key"),
    )


@register(
    "win_nth_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_price
    FROM orders
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] OVER NTH_VALUE: each customer's second-ever order price as
    of each row (NULL until two orders seen) — completes the
    first/last/nth value family of §2.5."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@register(
    "text_scrub",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(trim(text)),
                                              '[0-9]{4,}', '<NUM>', 'g'),
                               ' +', ' ', 'g')) AS scrubbed,
           CAST(len(regexp_extract_all(lower(trim(text)), '[0-9]{4,}')) AS BIGINT)
             AS n_redactions
    FROM documents
    """,
)
def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing pass (training-data hygiene): redact long
    digit runs (IDs, phone-ish numbers) to a <NUM> sentinel, collapse
    whitespace, and count redactions per doc — pure regexp expressions,
    one scan, the shape a real pipeline extends with email/SSN/URL
    patterns."""
    d = t(spark, sf_dir, "documents")
    low = F.lower(F.trim(F.col("text")))
    return d.select(
        "doc_id",
        F.trim(
            F.regexp_replace(F.regexp_replace(low, "[0-9]{4,}", "<NUM>"), " +", " ")
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all(low, F.lit("[0-9]{4,}"), F.lit(0)))
        .cast("long")
        .alias("n_redactions"),
    )


@register(
    "scan_partition_pruned",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS cust_cnt,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer WHERE c_mktsegment = 'BUILDING'
    GROUP BY c_nationkey
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning end-to-end: customer written partitioned by
    c_mktsegment (hive-style directories), then read back with an
    equality filter on the partition column — the scan must touch ONE
    directory, not five (PartitionFilters asserted in
    tests/test_plans.py). At 100 TB this is the difference between
    reading 20 TB and reading 4 TB before the first filter runs."""
    src = _ensure(
        _fixture_dir(sf_dir, "customer_by_segment"),
        lambda p: t(spark, sf_dir, "customer")
        .write.mode("overwrite")
        .partitionBy("c_mktsegment")
        .parquet(p),
    )
    return (
        spark.read.parquet(src)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("cust_cnt"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


def _cluster_oracle_sql() -> str:
    """DuckDB twin of dedup_cluster: the jaccard pair graph (same
    shingle SQL as dedup_ngram_jaccard's oracle) then TRUE connected
    components via a recursive transitive closure. Exact components
    are algorithm-independent, so the oracle no longer replays the
    Spark side's iteration schedule — any correct CC implementation
    hash-matches it (near-dup components are tiny, so the closure is
    cheap on the oracle's scale)."""
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
      SELECT rc.doc_id, e.doc_b FROM reach rc JOIN edges e ON e.doc_a = rc.r)
    SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id
    """


@register("dedup_cluster", oracle=_cluster_oracle_sql())
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: exact connected components over the
    dedup_ngram_jaccard pair graph via alternating large-star /
    small-star rounds to a checked fixed point
    (operators/graph.py::connected_components — the Kiveris et al.
    MapReduce CC algorithm GraphX-class systems use). Round count is
    O(log² n), independent of component diameter, so deep chain
    components that broke the old 5-round min-label unroll (VERDICT
    r03) converge too — property-tested on a diameter-6 chain in
    tests/test_properties.py. When the shingle overlap was counted on
    the driver (a corpus of at most ``scale.HOT_BROADCAST_MAX``
    shingle rows, ``llm._shingle_overlap_rows``), union-find labels the
    jaccard pairs there directly; otherwise ``connected_components``
    takes the Spark-computed jaccard pair frame. Output: one row per
    clustered doc with its cluster representative (min doc_id)."""
    from hello_flink_spark.operators.graph import _union_find_labels, connected_components
    from hello_flink_spark.queries.llm import (
        _jaccard_dup,
        _jaccard_pairs,
        _shingle_overlap,
        _shingle_overlap_rows,
    )

    d = t(spark, sf_dir, "documents")
    rows = _shingle_overlap_rows(d)
    if rows is not None:
        pairs = [(a, b) for a, b, both, n_a, n_b in rows if _jaccard_dup(both, n_a, n_b)]
        labels = _union_find_labels(spark, pairs, d.schema["doc_id"].dataType)
    else:
        # pairs come out of the keyed similarity aggregation with
        # doc_a < doc_b, one row per pair — already canonical for CC
        # with src=doc_b (the larger endpoint), so the entry shuffle
        # is skipped
        labels = connected_components(
            _jaccard_pairs(_shingle_overlap(d, None, spread=True)),
            src="doc_b", dst="doc_a", assume_canonical=True,
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           COUNT(*) AS cnt,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders GROUP BY bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values (profiling primitive):
    bucket arithmetic + hash agg — one shuffle of (bucket, partials),
    never the raw rows."""
    o = t(spark, sf_dir, "orders")
    return (
        o.withColumn("bucket", F.floor(F.col("o_totalprice") / 50000).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "quality_expectations",
    oracle="""
    SELECT 'lineitem_nonpositive_qty' AS expectation,
           CAST(count_if(l_quantity <= 0) AS BIGINT) AS violations,
           COUNT(*) AS checked
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_negative_price',
           CAST(count_if(l_extendedprice < 0) AS BIGINT), COUNT(*)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_out_of_range',
           CAST(count_if(l_discount < 0 OR l_discount > 1) AS BIGINT), COUNT(*)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)),
           COUNT(*)
    FROM lineitem
    """,
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (the expectations pattern): violation counts
    for column constraints (non-positive quantity, negative price,
    discount out of [0,1]) and referential integrity (lineitem rows whose
    orderkey has no parent order — left-anti join). Column checks fold
    into ONE scan via conditional aggregation; the RI check is a
    broadcast/shuffled anti-join — at 100 TB this runs as the
    admission gate before a partition is published."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    col_checks = li.agg(
        F.count_if(F.col("l_quantity") <= 0).alias("lineitem_nonpositive_qty"),
        F.count_if(F.col("l_extendedprice") < 0).alias("lineitem_negative_price"),
        F.count_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias(
            "lineitem_discount_out_of_range"
        ),
    )
    melted = col_checks.unpivot([], list(col_checks.columns), "expectation", "violations")
    ri_row = (
        li.select("l_orderkey")
        .join(o.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("lineitem_orphan_orderkey").alias("expectation"), "violations")
    )
    total = li.agg(F.count(F.lit(1)).alias("checked"))
    # one declarative plan, no driver-side actions: scalar 'checked'
    # attaches via a 1x1 cross join (broadcast).
    return melted.unionByName(ri_row).crossJoin(F.broadcast(total))


@register(
    "sim_label_centroids",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS idx,
             UNNEST(CAST(embedding AS DOUBLE[])) AS x
      FROM embeddings
    ),
    cent AS (
      SELECT label AS c_label, idx, AVG(x) AS c FROM ex GROUP BY c_label, idx
    ),
    scores AS (
      SELECT e.vec_id, e.label, c.c_label,
             SUM(e.x * c.c) AS dot
      FROM ex e JOIN cent c ON c.idx = e.idx
      GROUP BY e.vec_id, e.label, c.c_label
    ),
    pred AS (
      SELECT vec_id, label, c_label AS predicted FROM (
        SELECT vec_id, label, c_label,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ROUND(dot, 6) DESC, c_label) AS rn
        FROM scores)
      WHERE rn = 1
    )
    SELECT label, predicted, COUNT(*) AS cnt
    FROM pred GROUP BY label, predicted
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification over the labeled embeddings —
    the prototype-based classifier a curation pipeline uses for cheap
    label propagation: element-wise per-label mean vectors (explode →
    hash agg; the centroid table is labels x dims = tiny), every
    vector scored against every centroid via a broadcast join on the
    dimension index, argmax by rounded dot product (id tiebreak — the
    sim_knn float-noise precedent). Output: the label x predicted
    confusion counts. Corpus-side cost is one explode + two hash
    aggregations — linear; the centroid side never grows with the
    corpus."""
    e = t(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("idx0", "x"),
    ).withColumn("idx", F.col("idx0") + 1)
    cent = ex.groupBy(F.col("label").alias("c_label"), "idx").agg(F.avg("x").alias("c"))
    scores = (
        ex.join(F.broadcast(cent), "idx")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(F.col("x") * F.col("c")).alias("dot"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.round("dot", 6).desc(), F.col("c_label"))
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("c_label").alias("predicted"))
    )
    return pred.groupBy("label", "predicted").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "sim_quantized_cosine",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> FLOOR(x * 127.0 / list_max(list_transform(
                                   CAST(embedding AS DOUBLE[]), y -> abs(y))) + 0.5))
               AS qv
      FROM embeddings
    )
    SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
           ROUND(list_inner_product(a.qv, b.qv)
                 / (sqrt(list_inner_product(a.qv, a.qv))
                    * sqrt(list_inner_product(b.qv, b.qv))), 6) AS q_cos
    FROM q a JOIN q b
      ON a.vec_id % 50 = 0 AND a.vec_id < 2000 AND b.vec_id > a.vec_id
    """,
)
def sim_quantized_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized cosine similarity — the memory-side scale lever
    for embedding search: per-vector symmetric quantization
    (floor(x*127/maxabs + 0.5); floor-based so both engines round
    identically) shrinks the corpus 4x vs float32 and the cosine
    survives quantization (~1e-2 error at 64 dims). Same bounded
    broadcast-probe shape as sim_cosine_pairs; at 100 TB the
    quantized corpus is what stays resident while exact rescoring
    touches only the top candidates."""
    from hello_flink_spark.queries.llm import PROBE_ID_MAX, _cosine

    e = t(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    maxabs = F.array_max(F.transform(dbl, lambda v: F.abs(v)))
    qv = F.transform(dbl, lambda v: F.floor(v * 127.0 / maxabs + 0.5).cast("double"))
    q = e.select("vec_id", qv.alias("qv"))
    probes = q.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < PROBE_ID_MAX)
    ).select(F.col("vec_id").alias("probe_id"), F.col("qv").alias("pv"))
    cands = q.select(F.col("vec_id").alias("cand_id"), F.col("qv").alias("cv"))
    return cands.join(F.broadcast(probes), F.col("cand_id") > F.col("probe_id")).select(
        "probe_id",
        "cand_id",
        F.round(_cosine(F.col("pv"), F.col("cv")), 6).alias("q_cos"),
    )


@register(
    "profile_table",
    oracle="""
    SELECT 'o_custkey' AS col, COUNT(*) - COUNT(o_custkey) AS n_null,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           ROUND(MIN(o_totalprice), 2) AS price_min, ROUND(MAX(o_totalprice), 2) AS price_max
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           ROUND(MIN(o_totalprice), 2), ROUND(MAX(o_totalprice), 2)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           ROUND(MIN(o_totalprice), 2), ROUND(MAX(o_totalprice), 2)
    FROM orders
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the auto-stats primitive behind data catalogs):
    null count and distinct count per profiled column plus table-level
    min/max, all folded into ONE scan with conditional aggregation —
    the profile of a 100 TB table costs one pass, not one pass per
    column. (At scale swap countDistinct for approx_count_distinct —
    exact here so the oracle can hash-match.)"""
    o = t(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    aggs += [
        F.round(F.min("o_totalprice"), 2).alias("price_min"),
        F.round(F.max("o_totalprice"), 2).alias("price_max"),
    ]
    wide = o.agg(*aggs).head()
    rows = [
        (c, wide[f"{c}__null"], wide[f"{c}__distinct"], wide.price_min, wide.price_max)
        for c in cols
    ]
    return spark.createDataFrame(
        rows, "col string, n_null long, n_distinct long, price_min double, price_max double"
    )


@register(
    "fn_encoding",
    oracle="""
    SELECT doc_id,
           base64(encode(substr(text, 1, 12))) AS b64,
           hex(encode(substr(text, 1, 4))) AS hx,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
)
def fn_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] Flink SQL TO_BASE64 / encode functions: base64 and hex of
    text prefixes plus byte length — the binary-payload codec family
    (codegen expressions)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.base64(F.encode(F.substring("text", 1, 12), "utf-8")).alias("b64"),
        F.hex(F.encode(F.substring("text", 1, 4), "utf-8")).alias("hx"),
        F.length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_bytes"),
    )


SUBQUERY_SQL = """
SELECT o.o_orderkey,
       ROUND(o.o_totalprice, 2) AS totalprice,
       (SELECT COUNT(*)
        FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS n_items,
       (SELECT ROUND(MAX(l.l_extendedprice), 2)
        FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS max_item_price,
       EXISTS (SELECT 1 FROM lineitem l
               WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
         AS has_bulk_item
FROM orders o
WHERE o.o_totalprice > (SELECT MAX(o_totalprice) FROM orders) * 0.5
"""


@register("subquery_correlated", oracle=SUBQUERY_SQL)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] Calcite subquery decorrelation (SURVEY §4.1) — the Catalyst
    side demonstrated live: correlated SCALAR subqueries (per-order
    item count and max price → rewritten to aggregates + outer joins),
    a correlated EXISTS (→ existence join), and an uncorrelated scalar
    filter (→ one-row broadcast). Same SQL text runs on both engines —
    the declared query IS the oracle string. Aggregates are COUNT/MAX
    (accumulation-order-free) so no float boundary can flip a row
    between engines."""
    from hello_flink_spark.sources.readers import register_views

    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(SUBQUERY_SQL)


@register(
    "scan_dynamic_pruned",
    oracle="""
    SELECT c.c_nationkey, COUNT(*) AS cust_cnt
    FROM customer c
    JOIN (VALUES ('BUILDING', 'prime'), ('MACHINERY', 'prime'),
                 ('AUTOMOBILE', 'standard'), ('HOUSEHOLD', 'standard'),
                 ('FURNITURE', 'standard')) AS seg(c_mktsegment, tier)
      ON c.c_mktsegment = seg.c_mktsegment
    WHERE seg.tier = 'prime'
    GROUP BY c.c_nationkey
    """,
)
def scan_dynamic_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning (SURVEY §4.1): the fact side is the
    hive-partitioned customer fixture joined on its partition column
    to a dim filtered at runtime — Catalyst injects the dim's
    surviving keys as a partition filter (dynamicpruning expression,
    asserted in tests/test_plans.py), so only the 'prime' segment
    directories are read even though the pruning set isn't known until
    the dim is evaluated. The static-filter variant is
    scan_partition_pruned."""
    src = _ensure(
        _fixture_dir(sf_dir, "customer_by_segment"),
        lambda p: t(spark, sf_dir, "customer")
        .write.mode("overwrite")
        .partitionBy("c_mktsegment")
        .parquet(p),
    )
    fact = spark.read.parquet(src)
    seg = spark.createDataFrame(
        [
            ("BUILDING", "prime"),
            ("MACHINERY", "prime"),
            ("AUTOMOBILE", "standard"),
            ("HOUSEHOLD", "standard"),
            ("FURNITURE", "standard"),
        ],
        "c_mktsegment string, tier string",
    )
    return (
        fact.join(seg.filter(F.col("tier") == "prime"), "c_mktsegment")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("cust_cnt"))
    )


@register(
    "fn_bitwise",
    oracle="""
    SELECT event_id,
           CAST(event_id & 255 AS BIGINT) AS low_byte,
           CAST(xor(event_id, 21845) AS BIGINT) AS xored,
           CAST(event_id << 2 AS BIGINT) AS shl2,
           CAST(event_id >> 3 AS BIGINT) AS shr3,
           CAST(bit_count(event_id) AS BIGINT) AS popcnt
    FROM events
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] Flink SQL bit functions: and/xor/shifts/bit_count on the
    event id — pure codegen expressions."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("event_id").bitwiseXOR(F.lit(21845)).alias("xored"),
        F.expr("shiftleft(event_id, 2)").alias("shl2"),
        F.expr("shiftright(event_id, 3)").alias("shr3"),
        F.bit_count("event_id").cast("long").alias("popcnt"),
    )


SCD2_SQL = """
WITH changes AS (
    SELECT o_custkey, o_orderdate AS ts, o_orderkey,
           o_orderstatus AS status,
           lag(o_orderstatus) OVER w AS prev_status
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), transitions AS (
    SELECT o_custkey, ts, o_orderkey, status
    FROM changes
    WHERE prev_status IS NULL OR status <> prev_status
)
SELECT o_custkey                 AS cust_key,
       status,
       ts                        AS valid_from,
       lead(ts) OVER w2          AS valid_to,
       CAST(lead(ts) OVER w2 IS NULL AS BIGINT) AS is_current
FROM transitions
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY ts, o_orderkey)
"""


@register("dim_scd2_build", oracle=SCD2_SQL)
def dim_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build — the batch
    form of the CDC changelog materialization Flink users run against
    dynamic tables ([F] Table API temporal tables / upsert changelogs;
    empty reference checkout, SURVEY §0). Treats each customer's order
    stream as an attribute-change feed: collapse consecutive repeats of
    o_orderstatus, then assign validity intervals [valid_from,
    valid_to) via lead(), open interval = current row.

    Scale shape: two windows over the SAME (o_custkey, ts, key)
    partitioning — one shuffle total, no self-join, AQE-safe; ties
    broken by o_orderkey so the history is deterministic on any
    cluster layout."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = o.select(
        "o_custkey",
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.lag("o_orderstatus").over(w).alias("prev_status"),
    )
    transitions = changes.filter(
        F.col("prev_status").isNull() | (F.col("status") != F.col("prev_status"))
    )
    w2 = Window.partitionBy("o_custkey").orderBy("ts", "o_orderkey")
    return transitions.select(
        F.col("o_custkey").alias("cust_key"),
        "status",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().cast("long").alias("is_current"),
    )


@register(
    "join_bucketed",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*)                        AS line_cnt,
           ROUND(SUM(l_extendedprice), 2)  AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (shuffle-free) join via bucketed catalog tables
    (operators/scale.py::write_bucketed as a declared query, like
    join_skew_salted for salting): both sides hash-bucketed by the
    join key at WRITE time, so the join itself needs no Exchange —
    the pre-paid-shuffle layout for a fact table joined on the same
    key by many downstream queries. Result == the plain join (that is
    the oracle); the shuffle-free plan property is asserted in
    tests/test_scale.py over these helpers."""
    from hello_flink_spark.operators.scale import write_bucketed

    import shutil
    from urllib.parse import urlparse

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    lt, ot = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    # The default catalog is in-memory: managed-table FILES survive the
    # session but the metadata doesn't. A location without catalog
    # metadata is stale — clear it before (re)writing.
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for tbl, src, cols, key in (
        (lt, "lineitem", ["l_orderkey", "l_extendedprice"], "l_orderkey"),
        (ot, "orders", ["o_orderkey", "o_orderstatus"], "o_orderkey"),
    ):
        if not spark.catalog.tableExists(tbl):
            loc = os.path.join(wh, tbl)
            if os.path.exists(loc):
                shutil.rmtree(loc)
            write_bucketed(t(spark, sf_dir, src).select(*cols), tbl, key)
    # bucketed_join() joins on a shared key name; these sides keep their
    # TPC-H column names, so join on the explicit equality instead.
    joined = spark.table(lt).join(
        spark.table(ot), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("line_cnt"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


TPCH_Q5_SQL = """
SELECT n.n_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       COUNT(*) AS line_cnt
FROM customer c
JOIN orders o    ON c.c_custkey = o.o_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n    ON s.s_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
"""


@register("flagship_regional_revenue", oracle=TPCH_Q5_SQL)
def flagship_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style regional revenue: the classic 6-table join
    (customer-orders-lineitem-supplier-nation-region with the
    local-supplier correlation c_nationkey = s_nationkey) — the
    join-REORDERING stress shape of SURVEY §4.1: Catalyst broadcasts
    the three true dims, reorders the fact joins, and pushes the date
    band to the orders scan. Same SQL text on both engines; the money
    sum is ROUNDed per §5.1."""
    from hello_flink_spark.sources.readers import register_views

    register_views(
        spark, sf_dir,
        ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    )
    return spark.sql(TPCH_Q5_SQL)
