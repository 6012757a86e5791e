"""Round-9 declared queries (SURVEY §2.19).

Batch 1 — multimodal pillar extension (VERDICT r08 "Next round" #1):
perceptual-hash image near-duplicate detection over REAL decoded PNG
pixels. The pillar's third op: a training pipeline dedups images as
surely as it dedups text, and the repo already owns the stdlib PNG
codec (operators/png_codec.py) and the hamming-band candidate
pattern (queries/llm.py::dedup_simhash) — this op composes the two.

Batch 2 — the production corpus-refresh shape (VERDICT r08 #7):
cross-snapshot incremental dedup against a persisted bucketed
fingerprint index.

Batch 3 — CEP OR-combinator ([F] ``Pattern#where(...).or(...)`` /
subtype conditions, VERDICT r08 #3): a step admitting a SET of event
types, join-expressible via the ``isin`` stage filter.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hello_flink_spark.registry import register
from hello_flink_spark.sources.readers import load_table as t

# ---------------------------------------------------------------------------
# multimodal_dedup_phash — perceptual (block-mean / average) hash near-dup
# ---------------------------------------------------------------------------

# Synthetic image-corpus closed form: every document carries a 16x16
# 8-bit grayscale PNG whose content is a per-group 8x8 BLOCK pattern
# (each block uniformly 0 or 255) plus at most ONE flipped block per
# variant — so near-duplicate structure is present BY CONSTRUCTION
# (same-group images differ in <= 2 hash bits; cross-group images
# differ in >= 22, verified offline over all (group, variant) pairs),
# and the perceptual hash of every image has a closed-form SQL oracle.
PHASH_GROUPS = 23       # pattern groups (near-dup clusters)
PHASH_VARIANTS = 9      # variants per group: v=0 pristine, else 1 flipped block
PHASH_MULT = 1103515245  # pattern-bit mixing constants: bit(g, b) =
PHASH_MOD = 101          #   ((g+1)*(b+3)*MULT) % MOD < THRESH
PHASH_THRESH = 42        # density ~0.42 -> popcount 20..33 of 64 (never 0/64)
PHASH_IMG = 16          # image is 16x16 px; hash blocks are 2x2 -> 8x8 = 64 bits
PHASH_HAMMING_MAX = 2   # near-dup verify threshold (intra-group max is 2)
PHASH_BANDS = 4         # 4 x 16-bit bands: hamming <= 2 leaves >= 2 bands
                        # intact, so banding is COMPLETE by pigeonhole


def _phash_pixel(doc_id: int, x: int, y: int) -> int:
    """Closed-form pixel value (0 or 255) — the single source of truth
    shared by the PNG encode stage and (transcribed) the SQL oracle."""
    g = doc_id % PHASH_GROUPS
    v = (doc_id // PHASH_GROUPS) % PHASH_VARIANTS
    b = (y // 2) * 8 + (x // 2)
    pattern = ((g + 1) * (b + 3) * PHASH_MULT) % PHASH_MOD < PHASH_THRESH
    flipped = v != 0 and b == (v * 17 + g) % 64
    return 255 if pattern != flipped else 0


def _phash_png_encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched ENCODE stage: a REAL 16x16 grayscale PNG per
    document (signature, CRC'd chunks, zlib IDAT — operators/
    png_codec.py), standing in for the binary image column."""
    from hello_flink_spark.operators.png_codec import encode_png_gray

    for pdf in batches:
        payloads = [
            encode_png_gray(
                PHASH_IMG,
                PHASH_IMG,
                lambda x, y, d=int(d): _phash_pixel(d, x, y),
                # non-zero scanline filter so decode genuinely unfilters
                filter_type=int(d) % 3,
            )
            for d in pdf["doc_id"]
        ]
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _phash_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched DECODE + HASH stage: parse/CRC-verify/inflate/
    unfilter each payload with the stdlib codec, then compute the
    GENERIC block-mean perceptual hash (Zauner's average-hash family:
    bit b = mean of 2x2 block b > global pixel mean) — no knowledge of
    the closed form, so a decoder or hash bug fails the driver gate.
    Packed little-endian by block index into ONE int64 (two's
    complement wrap, matching the oracle's HUGEINT fold)."""
    import numpy as np

    from hello_flink_spark.operators.imaging import avg_hash_64
    from hello_flink_spark.operators.png_codec import decode_png_gray

    for pdf in batches:
        rows = []
        for d, blob in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px = decode_png_gray(bytes(blob))
            a = np.frombuffer(bytes(px), dtype=np.uint8).reshape(h, w)
            rows.append({"doc_id": int(d), "phash": avg_hash_64(a)})
        yield pd.DataFrame(rows, columns=["doc_id", "phash"])


# The oracle recomputes the hash from the closed-form PIXELS (doc x
# 256 pixel rows -> block means -> global mean -> bit pack), NOT from
# the pattern bits directly — so it independently exercises the whole
# mean-comparison pipeline, then takes the textbook all-pairs
# definition of the near-dup representative (fixture corpus is small;
# the Spark side must reach the same rows through banding).
# The hash-derivation CTE chain is shared with the incremental
# variant's oracle below.
_PHASH_HASHES_CTE = f"""
xs AS (SELECT CAST(range AS BIGINT) AS x FROM range(0, {PHASH_IMG})),
ys AS (SELECT CAST(range AS BIGINT) AS y FROM range(0, {PHASH_IMG})),
px AS (
  SELECT d.doc_id,
         (ys.y // 2) * 8 + (xs.x // 2) AS b,
         CASE WHEN (
             ((d.doc_id % {PHASH_GROUPS} + 1) * ((ys.y // 2) * 8 + (xs.x // 2) + 3)
              * {PHASH_MULT}) % {PHASH_MOD} < {PHASH_THRESH}
           ) != (
             (d.doc_id // {PHASH_GROUPS}) % {PHASH_VARIANTS} != 0
             AND (ys.y // 2) * 8 + (xs.x // 2) =
                 (((d.doc_id // {PHASH_GROUPS}) % {PHASH_VARIANTS}) * 17
                  + d.doc_id % {PHASH_GROUPS}) % 64
           ) THEN 255 ELSE 0 END AS pv
  FROM documents d, xs, ys
),
gm AS (SELECT doc_id, AVG(pv) AS m FROM px GROUP BY doc_id),
blocks AS (SELECT doc_id, b, AVG(pv) AS bm FROM px GROUP BY doc_id, b),
hashes AS (
  SELECT doc_id,
         CAST(CASE WHEN s >= 9223372036854775808
                   THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS phash
  FROM (
    SELECT blocks.doc_id,
           SUM(CASE WHEN bm > m THEN CAST(1 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END
               * (CAST(1 AS HUGEINT) << CAST(b AS INTEGER))) AS s
    FROM blocks JOIN gm ON gm.doc_id = blocks.doc_id
    GROUP BY blocks.doc_id
  )
)"""

_PHASH_ORACLE = f"""
WITH {_PHASH_HASHES_CTE},
nbrs AS (
  SELECT a.doc_id, MIN(o.doc_id) AS mn
  FROM hashes a JOIN hashes o
    ON o.doc_id != a.doc_id
   AND bit_count(xor(a.phash, o.phash)) <= {PHASH_HAMMING_MAX}
  GROUP BY a.doc_id
)
SELECT h.doc_id, h.phash,
       CAST(LEAST(COALESCE(n.mn, h.doc_id), h.doc_id) AS BIGINT) AS keep_doc_id
FROM hashes h LEFT JOIN nbrs n ON n.doc_id = h.doc_id
"""


@register("multimodal_dedup_phash", oracle=_PHASH_ORACLE)
def multimodal_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection by perceptual hash (VERDICT r08
    "Next round" #1 — the multimodal pillar's dedup tier): every
    document's PNG payload is decoded for real (CRC, inflate,
    unfilter — operators/png_codec.py) inside Arrow ``mapInPandas``,
    hashed with the generic block-mean perceptual hash (average-hash
    family: 8x8 block means vs the global mean, 64 bits), and
    near-dups are found EXACTLY like ``dedup_simhash`` finds text
    near-dups: 4x16-bit hamming-band candidate generation (pigeonhole:
    hamming <= 2 pairs keep >= 2 bands intact, so banding is complete
    — no all-pairs anywhere), then the exact ``bit_count(XOR)`` verify
    on survivors. Output is the LINEAR-size per-image representative
    (keep_doc_id = min doc_id over the verified neighborhood,
    including self), not the quadratic pair list — the form a corpus
    dedup job actually materializes.

    Scale shape (r10, VERDICT r09 #1 — operators/banded_dedup.py):
    decode/hash is embarrassingly parallel per input partition;
    IDENTICAL hashes then collapse to one representative row BEFORE
    banding (exact re-upload mass — the dominant dup mass at corpus
    scale — stays strictly linear), and the band join runs over
    DISTINCT hashes only with a per-bucket frequency cap
    (BAND_BUCKET_CAP: an over-full bucket emits the member↔hub star
    instead of all pairs). MIN aggregation is idempotent, so duplicate
    candidates from multiple shared bands need no DISTINCT pass. The
    oracle recomputes the hash per-PIXEL from the closed form and
    takes the all-pairs textbook neighborhoods, so a decoder, hash,
    banding-completeness, or collapse bug all fail the driver hash
    gate."""
    from hello_flink_spark.operators.banded_dedup import min_rep_dedup

    return min_rep_dedup(
        _phash_sigs(spark, sf_dir),
        bands_per_word=PHASH_BANDS,
        hamming_max=PHASH_HAMMING_MAX,
    ).select("doc_id", "phash", "keep_doc_id")


def _phash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, phash, sig) — the decode+hash stage, shared by the
    query and the sf1 scaling probe's candidate-count accounting.
    The narrow id feed is spread across cores first (r12,
    operators/scale.py spread_small_scan): the PNG decode is the
    dominant term and a small fixture scan arrives as one split."""
    from hello_flink_spark.operators.scale import spread_small_scan

    d = spread_small_scan(t(spark, sf_dir, "documents").select("doc_id"))
    payload = d.mapInPandas(_phash_png_encode, schema="doc_id long, payload binary")
    # TWO plan branches consume the hashes (the exact-collapse groupBy
    # and the final keep join) — materialize once so the dominant
    # decode+hash Python stage runs once (same pattern as pq_train's
    # `sub`)
    hashes = payload.mapInPandas(
        _phash_decode, schema="doc_id long, phash long"
    ).localCheckpoint(eager=False)
    return hashes.withColumn("sig", F.array("phash"))


# ---------------------------------------------------------------------------
# multimodal_dedup_phash_incremental — incremental IMAGE near-dup against
# a persisted hamming-band index (composes the phash near-dup with
# dedup_incremental's bucketed-index pattern: the weekly image-corpus
# refresh a LAION-style pipeline runs).
#
# Snapshot split (id-arithmetic, oracle-mirrorable): the OLD snapshot
# holds every image whose pattern GROUP g = doc_id % 23 has g % 3 != 0
# (whole groups — new content classes appear in a new crawl as whole
# unseen near-dup clusters, re-crawled content as members of indexed
# ones); the NEW batch is doc_id % 5 == 0 across all groups. So new
# docs from indexed groups match the index (verdict 'index_dup'), new
# docs from unindexed groups survive and collapse among themselves
# ('batch_dup' for non-representatives, 'new' for the representative)
# — 65 / 27 / 8 at sf0.01, all three classes non-vacuous.
# ---------------------------------------------------------------------------

# One 32-bit key per (band_idx, band_val) pair: a SINGLE bucket/join
# column, so the bucketed index scan's HashPartitioning provably
# matches the probe join's required distribution (two separate key
# columns would rely on subset-partitioning compatibility instead).
_PHASH_BAND_KEY = (
    "band_idx * 65536 + "
    "(shiftrightunsigned(phash, CAST(band_idx * 16 AS INT)) & 65535)"
)


def _phash_band_rows(hashes: DataFrame) -> DataFrame:
    """Explode (doc_id, phash) into {PHASH_BANDS} band rows keyed by
    the combined band_key — the layout both the persisted index and
    the probe side share."""
    return hashes.withColumn(
        "band_idx", F.explode(F.sequence(F.lit(0), F.lit(PHASH_BANDS - 1)))
    ).select(
        F.expr(_PHASH_BAND_KEY).cast("long").alias("band_key"),
        "doc_id",
        "phash",
    )


def phash_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per session+sf) the PERSISTED hamming-band index of
    the old image snapshot: every indexed image contributes
    {PHASH_BANDS} rows (band_key, doc_id, phash), written as a catalog
    table bucketed AND sorted by band_key at the join fan-out — the
    pre-paid shuffle, so every weekly batch probes it with zero
    index-side Exchange (same discipline as incremental_index_table;
    the index is the 100 TB side)."""
    import os
    import shutil
    from urllib.parse import urlparse

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    tbl = f"phash_index_{tag}"
    if not spark.catalog.tableExists(tbl):
        from hello_flink_spark.operators.scale import write_bucketed

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        loc = os.path.join(wh, tbl)
        if os.path.exists(loc):
            shutil.rmtree(loc)
        old_ids = (
            t(spark, sf_dir, "documents")
            .select("doc_id")
            .filter((F.col("doc_id") % PHASH_GROUPS) % 3 != 0)
        )
        hashes = old_ids.mapInPandas(
            _phash_png_encode, schema="doc_id long, payload binary"
        ).mapInPandas(_phash_decode, schema="doc_id long, phash long")
        write_bucketed(
            _phash_band_rows(hashes).repartition(INCR_BUCKETS, "band_key"),
            tbl,
            "band_key",
            num_buckets=INCR_BUCKETS,
            sort_by="band_key",
        )
    return tbl


def phash_index_probe(index_bands: DataFrame, new_hashes: DataFrame) -> DataFrame:
    """The index-probe join proper (factored so the plan test drives
    it with broadcast disabled): band-join the new batch's band rows
    against the persisted index on band_key as a LEFT join with the
    exact hamming verify in the join condition, then re-aggregate to
    ONE row per batch doc: (doc_id, phash, mn_old) — mn_old NULL when
    no indexed near-dup exists. A new doc that is ALREADY indexed
    matches itself — semantically right for a re-crawl (it IS in the
    corpus). LEFT (not inner + later outer re-join) keeps the whole
    decode→probe path LINEAR, so the caller can materialize it in one
    pass (VERDICT r11 #3: one localCheckpoint, three consumers,
    instead of separate decode and probe materializations). With the
    index bucketed by band_key at the join's fan-out the join is
    Exchange-free on the index side; only the batch's band rows
    shuffle."""
    n, o = _phash_band_rows(new_hashes).alias("n"), index_bands.alias("o")
    return (
        n.join(
            o,
            (F.col("n.band_key") == F.col("o.band_key"))
            & (
                F.bit_count(F.col("n.phash").bitwiseXOR(F.col("o.phash")))
                <= PHASH_HAMMING_MAX
            ),
            "left",
        )
        .groupBy(F.col("n.doc_id").alias("doc_id"), F.col("n.phash").alias("phash"))
        .agg(F.min(F.col("o.doc_id")).alias("mn_old"))
    )


_PHASH_INCR_ORACLE = f"""
WITH {_PHASH_HASHES_CTE},
old AS (SELECT * FROM hashes WHERE (doc_id % {PHASH_GROUPS}) % 3 != 0),
batch AS (SELECT * FROM hashes WHERE doc_id % 5 = 0),
idx AS (
  SELECT b.doc_id, MIN(o.doc_id) AS mn_old
  FROM batch b JOIN old o
    ON bit_count(xor(b.phash, o.phash)) <= {PHASH_HAMMING_MAX}
  GROUP BY b.doc_id
),
surv AS (
  SELECT b.* FROM batch b LEFT JOIN idx ON idx.doc_id = b.doc_id
  WHERE idx.doc_id IS NULL
),
bn AS (
  SELECT a.doc_id, MIN(b.doc_id) AS mn_new
  FROM surv a JOIN surv b
    ON b.doc_id != a.doc_id
   AND bit_count(xor(a.phash, b.phash)) <= {PHASH_HAMMING_MAX}
  GROUP BY a.doc_id
)
SELECT b.doc_id, b.phash,
       CASE WHEN idx.mn_old IS NOT NULL THEN 'index_dup'
            WHEN bn.mn_new < b.doc_id THEN 'batch_dup'
            ELSE 'new' END AS verdict,
       CAST(CASE WHEN idx.mn_old IS NOT NULL THEN idx.mn_old
                 ELSE LEAST(COALESCE(bn.mn_new, b.doc_id), b.doc_id)
            END AS BIGINT) AS keep_doc_id
FROM batch b
LEFT JOIN idx ON idx.doc_id = b.doc_id
LEFT JOIN bn ON bn.doc_id = b.doc_id
"""


@register("multimodal_dedup_phash_incremental", oracle=_PHASH_INCR_ORACLE)
def multimodal_dedup_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-snapshot) IMAGE near-dup — the production
    image-corpus refresh shape, composing the two patterns the repo
    already proves separately: ``multimodal_dedup_phash``'s real
    decode + perceptual hash + hamming verify, and
    ``dedup_incremental``'s persisted bucketed index probe. A weekly
    image batch is (1) hashed from its REAL decoded pixels, (2) probed
    against the PERSISTED hamming-band index of the existing corpus —
    near-dups of indexed images drop with verdict 'index_dup' and the
    indexed representative as keep_doc_id, (3) the survivors (whole
    new content classes) collapse among themselves with the same
    min-direct-neighbor rule the single-corpus op uses ('batch_dup' /
    'new'). One row per batch image; all three verdicts non-vacuous at
    sf0.01 (65/27/8).

    Scale shape: the index — the 100 TB side — is band-exploded
    ({PHASH_BANDS} rows per image, one combined 32-bit band_key
    column) and bucketed+sorted by band_key at the join fan-out, so
    the weekly probe join is Exchange-free on the index side
    (comparative plan assertion in tests/test_scale.py, broadcast
    disabled); only the batch's band rows shuffle. Candidates stay
    banding-bounded — no all-pairs anywhere; the in-batch collapse
    runs on index survivors only (strictly smaller than the batch).
    ONE eager materialization total (VERDICT r11 #3): the probe is a
    LEFT band-join, so decode → band-explode → index join →
    per-doc re-aggregate is a single linear pipeline; its
    localCheckpoint is read by all three consumers (survivor filter,
    the in-batch band self-join, the final verdict projection) —
    the Python decode and the index join each run exactly once."""
    tbl = phash_index_table(spark, sf_dir)
    new_ids = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 5 == 0)
    )
    new_hashes = new_ids.mapInPandas(
        _phash_png_encode, schema="doc_id long, payload binary"
    ).mapInPandas(_phash_decode, schema="doc_id long, phash long")
    # one row per batch image: (doc_id, phash, mn_old-or-NULL)
    probed = phash_index_probe(spark.table(tbl), new_hashes).localCheckpoint(
        eager=True
    )
    surv = probed.filter(F.col("mn_old").isNull()).select("doc_id", "phash")
    a, b = _phash_band_rows(surv).alias("a"), _phash_band_rows(surv).alias("b")
    bn = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .filter(
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
            <= PHASH_HAMMING_MAX
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(F.min(F.col("b.doc_id")).alias("mn_new"))
    )
    return (
        probed.join(bn, "doc_id", "left")
        .select(
            "doc_id",
            "phash",
            F.when(F.col("mn_old").isNotNull(), F.lit("index_dup"))
            .when(F.col("mn_new") < F.col("doc_id"), F.lit("batch_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.when(F.col("mn_old").isNotNull(), F.col("mn_old"))
            .otherwise(
                F.least(
                    F.coalesce(F.col("mn_new"), F.col("doc_id")), F.col("doc_id")
                )
            )
            .alias("keep_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_incremental — cross-snapshot dedup against a persisted bucketed
# fingerprint index (the weekly corpus-refresh shape, VERDICT r08 #7)
# ---------------------------------------------------------------------------

# Snapshot split (deterministic, id-arithmetic so the oracle mirrors it
# exactly): the OLD snapshot is doc_id % 3 != 0; the NEW batch arrives
# as TWO overlapping crawl shards (doc_id % 3 == 0 and doc_id % 7 == 0)
# — so doc_id % 21 == 0 rows duplicate WITHIN the batch (collapsed by
# the in-batch dedup) and doc_id % 7 == 0 & % 3 != 0 rows duplicate
# AGAINST the index (dropped by the anti-join). Both dedup tiers are
# non-vacuous by construction on the duplicate-free fixture corpus.
# The bucket count is the persisted index's own layout, not the
# session's shuffle partition count: incremental_merge repartitions the
# batch side into INCR_BUCKETS by fp, so the probe join reuses the index
# layout with ZERO index-side exchange at any core count (a batch
# partitioning that differs from the bucket count forces Spark to
# reshuffle one side anyway — at scale you pick ONE fan-out and stick
# to it).
INCR_BUCKETS = 32

_INCR_ORACLE = """
WITH old AS (
  SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id
  FROM documents WHERE doc_id % 3 != 0 GROUP BY 1
),
batch_raw AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
),
batch AS (
  SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id FROM batch_raw GROUP BY 1
),
surv AS (
  SELECT b.fp, b.keep_doc_id
  FROM batch b LEFT JOIN old o ON o.fp = b.fp
  WHERE o.fp IS NULL
)
SELECT fp, CAST(keep_doc_id AS BIGINT) AS keep_doc_id, 'index' AS src FROM old
UNION ALL
SELECT fp, CAST(keep_doc_id AS BIGINT) AS keep_doc_id, 'new' AS src FROM surv
"""


def incremental_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per session+sf) the PERSISTED fingerprint index the
    incremental dedup probes: md5(text) -> min doc_id over the old
    snapshot, written as a catalog table BUCKETED AND SORTED by fp —
    the pre-paid shuffle, so every later batch's anti-join probes it
    with zero index-side Exchange (the index is the 100 TB side; the
    weekly batch is the small side that shuffles to match). The
    buckets are also one sorted file each; the scan only EXPOSES that
    order under spark.sql.legacy.bucketedTableScan.outputOrdering
    (session-level choice, tested but not flipped here), otherwise a
    cheap sorted-run re-sort remains."""
    import os
    import shutil
    from urllib.parse import urlparse

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    tbl = f"fp_index_{tag}"
    if not spark.catalog.tableExists(tbl):
        from hello_flink_spark.operators.scale import write_bucketed

        # in-memory catalog: files outlive metadata — clear stale paths
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        loc = os.path.join(wh, tbl)
        if os.path.exists(loc):
            shutil.rmtree(loc)
        old = (
            t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 3 != 0)
            .select(F.md5(F.col("text").cast("binary")).alias("fp"), "doc_id")
            .groupBy("fp")
            .agg(F.min("doc_id").alias("keep_doc_id"))
        )
        # repartition by fp into exactly INCR_BUCKETS tasks first:
        # hashpartitioning(fp, n) is the same murmur3 mapping bucketBy
        # uses, so every bucket is written by exactly one task -> ONE
        # sorted file per bucket, which is what lets the scan expose
        # its sort order and drop the index-side Sort too.
        write_bucketed(
            old.repartition(INCR_BUCKETS, "fp"),
            tbl,
            "fp",
            num_buckets=INCR_BUCKETS,
            sort_by="fp",
        )
    return tbl


def incremental_merge(index: DataFrame, batch_raw: DataFrame) -> DataFrame:
    """The incremental-dedup plan proper (factored so the plan test
    drives it with broadcast disabled): collapse the batch within
    itself (groupBy fp, keep min doc_id — idempotent under shard
    overlap), LEFT ANTI the survivors against the index on fp, then
    emit the merged index with provenance. The anti-join is the only
    index-side data touch; with the index bucketed by fp at the
    join's fan-out it is Exchange-free on that side."""
    batch = (
        batch_raw.select(F.md5(F.col("text").cast("binary")).alias("fp"), "doc_id")
        .repartition(INCR_BUCKETS, "fp")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"))
    )
    surv = batch.join(index, "fp", "left_anti")
    return index.select("fp", "keep_doc_id", F.lit("index").alias("src")).unionAll(
        surv.select("fp", "keep_doc_id", F.lit("new").alias("src"))
    )


@register("dedup_incremental", oracle=_INCR_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-snapshot) exact dedup — the production
    corpus-refresh shape (VERDICT r08 #7): a NEW crawl batch is
    deduped against the PERSISTED fingerprint index of everything
    already in the corpus, and the output is the merged next-snapshot
    index (fp, keep_doc_id, src) a real pipeline would write back
    bucketed for next week's refresh. Three tiers, each non-vacuous
    by construction (see the split comment above): (1) within-batch
    collapse (shards overlap), (2) batch-vs-index anti-join (re-crawl
    overlap), (3) merge-back union.

    Scale shape: the index — the 100 TB side — is bucketed AND sorted
    by fp at write time, so the probe anti-join needs NO index-side
    Exchange ever again (asserted with broadcast disabled in
    tests/test_scale.py, which also pins the sorted-bucket layout
    dropping the index Sort under the legacy ordering flag); only the
    weekly batch shuffles, into INCR_BUCKETS partitions matching the
    bucketing. The md5 key space
    is uniform — no skew, no salting needed. The merge-back union is
    shuffle-free. At fixture scale Catalyst may instead broadcast the
    small index under AQE — also correct; the bucketed layout is the
    plan that holds when the index is a million times the batch."""
    tbl = incremental_index_table(spark, sf_dir)
    d = t(spark, sf_dir, "documents")
    batch_raw = (
        d.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
        .unionAll(d.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text"))
    )
    return incremental_merge(spark.table(tbl), batch_raw)


# ---------------------------------------------------------------------------
# cep_pattern_or_condition — [F] Pattern#where(...).or(...) type sets
# ---------------------------------------------------------------------------


def _or_condition_oracle() -> str:
    from hello_flink_spark.streaming.cep import ORSTEP3, oracle_sql

    return oracle_sql(ORSTEP3)


@register("cep_pattern_or_condition", oracle=_or_condition_oracle())
def cep_pattern_or_condition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] Flink CEP ``Pattern#where(cond).or(cond)`` / subtype
    conditions — the OR-combinator, as a step admitting a SET of event
    types: signup → (view OR click) → purchase within 12 h stages,
    the "any-engagement conversion" funnel. The middle stage promotes
    on whichever admitted type arrives first; value guards would apply
    to the whole set (Flink's ``.where(a or b).where(guard)`` chain).
    Join-expressible: the stage filter's type equality widens to an
    ``isin`` — same single user_id exchange, same MIN-first
    determinism, because candidates of all admitted types share one
    timestamp order. NFA twin: equality becomes set membership, all
    ordering/window/guard machinery untouched (four-target property
    suite in tests/test_properties.py::test_cep_or_types_*).
    Non-vacuous vs the view-only twin: 12→17 matches at sf0.001,
    77→140 at sf0.01 — the extra matches are funnels whose first
    engagement was a click, which the single-type pattern misses."""
    from hello_flink_spark.streaming.cep import ORSTEP3, compile_batch

    return compile_batch(ORSTEP3, t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Batch 4 — multimodal pillar breadth (VERDICT r08 "What's missing" #1):
# the two mandated stages still absent — RESIZE (binary -> binary
# transform with a real re-encode) and FEATURE-EXTRACT quality gating.
# Both reuse multimodal_load's variable-geometry closed-form corpus
# (w = doc_id%16+1, h = (doc_id*7)%16+1, pv = (doc_id+31x+17y)%256).
# ---------------------------------------------------------------------------


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched RESIZE stage: decode (CRC/inflate/unfilter) ->
    2x2 average-pool (edge-partial blocks divide by their true pixel
    count; integer floor) -> RE-ENCODE the pooled image as a real PNG
    -> decode it AGAIN and require bit-identical pixels (the
    encode/decode roundtrip is on the output path, so a codec bug
    fails the driver gate) -> emit the OUTPUT image's typed stats."""
    from hello_flink_spark.operators.png_codec import decode_png_gray, encode_png_gray

    cols = ["doc_id", "out_w", "out_h", "out_px_sum", "out_px_min", "out_px_max"]
    for pdf in batches:
        rows = []
        for d, blob in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px = decode_png_gray(bytes(blob))
            ow, oh = (w + 1) // 2, (h + 1) // 2
            pooled = []
            for by in range(oh):
                for bx in range(ow):
                    block = [
                        px[y * w + x]
                        for y in range(2 * by, min(2 * by + 2, h))
                        for x in range(2 * bx, min(2 * bx + 2, w))
                    ]
                    pooled.append(sum(block) // len(block))
            out_png = encode_png_gray(
                ow, oh, lambda x, y, p=pooled, _w=ow: p[y * _w + x]
            )
            w2, h2, px2 = decode_png_gray(out_png)
            if (w2, h2, list(px2)) != (ow, oh, pooled):
                raise ValueError(f"resize roundtrip mismatch for doc {d}")
            rows.append(
                {
                    "doc_id": int(d),
                    "out_w": ow,
                    "out_h": oh,
                    "out_px_sum": int(sum(pooled)),
                    "out_px_min": int(min(pooled)),
                    "out_px_max": int(max(pooled)),
                }
            )
        yield pd.DataFrame(rows, columns=cols)


@register(
    "multimodal_resize",
    oracle="""
    WITH xs AS (SELECT CAST(range AS BIGINT) AS x FROM range(0, 16)),
         ys AS (SELECT CAST(range AS BIGINT) AS y FROM range(0, 16)),
    px AS (
      SELECT d.doc_id, xs.x // 2 AS bx, ys.y // 2 AS by,
             (d.doc_id + 31 * xs.x + 17 * ys.y) % 256 AS pv
      FROM documents d
      JOIN xs ON xs.x <= d.doc_id % 16
      JOIN ys ON ys.y <= (d.doc_id * 7) % 16
    ),
    pooled AS (
      SELECT doc_id, bx, by,
             CAST(FLOOR(CAST(SUM(pv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS pp
      FROM px GROUP BY doc_id, bx, by
    )
    SELECT doc_id,
           CAST((doc_id % 16 + 2) // 2 AS BIGINT) AS out_w,
           CAST(((doc_id * 7) % 16 + 2) // 2 AS BIGINT) AS out_h,
           CAST(SUM(pp) AS BIGINT) AS out_px_sum,
           CAST(MIN(pp) AS BIGINT) AS out_px_min,
           CAST(MAX(pp) AS BIGINT) AS out_px_max
    FROM pooled GROUP BY doc_id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE RESIZE — the binary→binary multimodal transform the
    mandate names explicitly (decode / feature-extract / RESIZE /
    frame-sample): every document's variable-geometry PNG is decoded
    for real, 2x2 average-pooled (edge-partial blocks divide by their
    true count — w,h are odd half the time by construction), RE-ENCODED
    as a real PNG (signature, CRC'd chunks, zlib IDAT) and decoded
    again, with the roundtrip required bit-identical before the output
    image's typed stats are emitted. That makes the whole
    decode→transform→encode→decode chain load-bearing for the driver
    hash gate — exactly the thumbnailing stage of an image-corpus
    pipeline, minus nothing.

    Scale shape: embarrassingly parallel per input partition (one
    Arrow mapInPandas stage, O(pixels) per row, no shuffle at all);
    with external blobs the same plan reads a binaryFile source
    partitioned by size. The oracle recomputes the pooled image
    per-PIXEL from the closed form (floor(sum/count) per 2x2 block),
    so decoder, pooling, edge-block, and re-encode bugs all
    hash-fail."""
    d = t(spark, sf_dir, "documents")
    from hello_flink_spark.operators.scale import spread_small_scan
    from hello_flink_spark.queries.llm import _png_encode_batches

    # round-18 (guide §2.5/§4): spread the id feed — the documents
    # parquet arrives as ONE split on modest corpora, serializing the
    # heaviest decode chain of the tier (decode→pool→re-encode→
    # re-decode) at any core count. sf1 probe: 4.74 → 1.38 s at c32;
    # sf0.1 neutral (0.82-0.86 both arms, min-of-7). The earlier Arrow
    # batch-size "sensitivity" (bs 2000 −17%) was a symptom of this
    # serial stage — post-spread it is flat (≤3%), so the session
    # default batch size stands.
    payload = spread_small_scan(d.select("doc_id")).mapInPandas(
        _png_encode_batches, schema="doc_id long, payload binary"
    )
    return payload.mapInPandas(
        _resize_batches,
        schema=(
            "doc_id long, out_w long, out_h long, out_px_sum long, "
            "out_px_min long, out_px_max long"
        ),
    )


def _lum_moment_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched FEATURE-EXTRACT stage: decode each payload and
    emit exact INTEGER luminance moments (n, sum, sum of squares) —
    the float math (mean/std/verdict) stays JVM-side so rounding
    follows the repo's Spark-vs-DuckDB parity conventions."""
    from hello_flink_spark.operators.png_codec import decode_png_gray

    cols = ["doc_id", "n_px", "lum_sum", "lum_sq_sum"]
    for pdf in batches:
        rows = []
        for d, blob in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px = decode_png_gray(bytes(blob))
            rows.append(
                {
                    "doc_id": int(d),
                    "n_px": w * h,
                    "lum_sum": int(sum(px)),
                    "lum_sq_sum": int(sum(v * v for v in px)),
                }
            )
        yield pd.DataFrame(rows, columns=cols)


LUM_KEEP_MIN = 64.0   # mean-luminance gate: drop too-dark /
LUM_KEEP_MAX = 192.0  # too-bright images (LAION-style curation)


@register(
    "multimodal_brightness_filter",
    oracle=f"""
    WITH xs AS (SELECT CAST(range AS BIGINT) AS x FROM range(0, 16)),
         ys AS (SELECT CAST(range AS BIGINT) AS y FROM range(0, 16)),
    px AS (
      SELECT d.doc_id, (d.doc_id + 31 * xs.x + 17 * ys.y) % 256 AS pv
      FROM documents d
      JOIN xs ON xs.x <= d.doc_id % 16
      JOIN ys ON ys.y <= (d.doc_id * 7) % 16
    ),
    m AS (
      SELECT doc_id, COUNT(*) AS n, SUM(pv) AS s, SUM(pv * pv) AS s2
      FROM px GROUP BY doc_id
    )
    SELECT doc_id,
           ROUND(CAST(s AS DOUBLE) / n, 6) AS mean_lum,
           ROUND(SQRT(CAST(s2 AS DOUBLE) / n
                      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)),
                 6) AS std_lum,
           CAST(CASE WHEN CAST(s AS DOUBLE) / n BETWEEN {LUM_KEEP_MIN}
                      AND {LUM_KEEP_MAX} THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM m
    """,
)
def multimodal_brightness_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE QUALITY GATE — the feature-extract tier of the multimodal
    pillar: decode every payload, compute mean luminance and
    population contrast (std) from EXACT integer moments shipped out
    of the Arrow stage, and keep only images inside the
    [{LUM_KEEP_MIN}, {LUM_KEEP_MAX}] mean-luminance band — the
    too-dark/too-bright curation filter an image-corpus pipeline runs
    before training (LAION-style). The verdict rides along as a
    column (keep) rather than filtering, so the driver gate verifies
    BOTH classes.

    Scale shape: one mapInPandas decode stage (embarrassingly
    parallel, integer moments only — 3 bigints per image cross the
    Arrow boundary) + JVM-side float math; no shuffle. The identical
    moment formula runs on both engines from the same exact integers,
    so the std comparison is bit-stable despite sqrt."""
    d = t(spark, sf_dir, "documents")
    from hello_flink_spark.queries.llm import _png_encode_batches

    payload = d.select("doc_id").mapInPandas(
        _png_encode_batches, schema="doc_id long, payload binary"
    )
    mom = payload.mapInPandas(
        _lum_moment_batches,
        schema="doc_id long, n_px long, lum_sum long, lum_sq_sum long",
    )
    mean = F.col("lum_sum").cast("double") / F.col("n_px")
    var = F.col("lum_sq_sum").cast("double") / F.col("n_px") - mean * mean
    return mom.select(
        "doc_id",
        F.round(mean, 6).alias("mean_lum"),
        F.round(F.sqrt(var), 6).alias("std_lum"),
        F.when((mean >= LUM_KEEP_MIN) & (mean <= LUM_KEEP_MAX), 1)
        .otherwise(0)
        .cast("long")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# Batch 5 — sim_ann_ivf_pq_residual: TRUE IVFADC residual encoding
# ---------------------------------------------------------------------------


@register("sim_ann_ivf_pq_residual", tags=("iterative", "rows_only"))
def sim_ann_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with RESIDUAL encoding (Jégou, Douze & Schmid, TPAMI
    2011 §IV — the published algorithm in full): PQ codes quantize
    x − q_c(x), the vector's offset from its coarse centroid, instead
    of the raw vector. That is what lets the index resolve structure
    FINER than the subspace codebooks: raw-vector ADC quantizes every
    member of a tight cluster to the same codes (ties — see
    sim_ann_ivf_pq's docstring), while residuals subtract the cluster
    and spend all 16 codes/subspace on within-cluster geometry. The
    capability proof is the paired recall test in tests/test_llm.py:
    on the two-level blob fixture the RAW variant scores near zero
    and this one >= 0.8.

    Differences from sim_ann_ivf_pq, each with its scale shape:
    1. Residual build — one broadcast join of the C-row centroid
       table against the assigned corpus (zip_with subtract, map-only).
    2. PQ training on residuals via ``pq_train_frame(seed_min=PQ_K)``:
       the coarse-centroid vectors' residuals are identically ZERO
       (x − x), the degenerate k-means init, so seeds come from the
       NEXT PQ_K vectors — still a deterministic constant-size set.
    3. Per-(query, probed-bucket) ADC LUTs — the query's residual
       differs per probed bucket (r_q = q − c_bucket), so the LUT
       frame is queries × NPROBE × PQ_SUBS rows (constant-bounded by
       PROBE_ID_MAX × IVF_NPROBE), computed map-only against the
       folded codebook literal (round-17; pq_codebook_sql).
    4. Scoring joins candidates to the (query, bucket) LUTs on the
       BUCKET key — same single data-scale shuffle as the raw
       variant; the LUT side is broadcast (constant-size).
    R-tier like sim_ann_ivf_pq: recall floors + structural invariants
    in pytest, no SQL oracle (iterative trainer)."""
    from hello_flink_spark.queries.llm import (
        IVF_NPROBE,
        PROBE_ID_MAX,
        ivf_centroids_and_vecs,
        ivf_nearest_buckets,
    )
    from hello_flink_spark.queries.round7 import (
        PQ_K,
        PQ_SUBDIM,
        PQ_SUBS,
        pq_codebook_sql,
        pq_train_frame,
    )

    from hello_flink_spark.queries.round7 import pq_codes_col

    centroids, vecs = ivf_centroids_and_vecs(spark, sf_dir)
    assign_b = ivf_nearest_buckets(centroids, vecs, "vec_id", 1)
    # 1. residuals: x - q_c(x), one broadcast join vs the C-row table.
    # Round-18 (guide §2.4/§5): the residual frame is THE shared
    # intermediate of this query — the trainer consumes it (exploded
    # per subspace) and the scoring side needs (vec_id, bucket,
    # residual) for candidate codes — so it materializes ONCE here
    # (non-eager: the trainer's seed collect is the first action and
    # fills it in the same job). The r17 shape recomputed the coarse
    # assignment (embeddings scan + 16-cosine argmin fold) a second
    # time on the candidate path and attached pivoted codes through a
    # vec_id-keyed aggregation + data-scale join; with the residual
    # checkpointed, candidate codes fold MAP-ONLY over it
    # (pq_codes_col) exactly like the raw sibling — the objection that
    # made r17 revert this rewrite (the codes branch had to REBUILD
    # the residual frame) no longer applies. Trainer input is the same
    # rows in the same scan partitions (its internal round-robin
    # repartition normalizes order before hashing), so the learned
    # codebook stays bit-identical.
    res = (
        assign_b.join(F.broadcast(centroids), F.col("bucket") == F.col("c_id"))
        .select(
            "vec_id",
            "bucket",
            F.expr("zip_with(vec, c_vec, (a, b) -> a - b)").alias("vec"),
        )
        .localCheckpoint(eager=False)
    )
    # 2. PQ on residuals (seed_min=PQ_K: centroid residuals are zero)
    books, _assigned = pq_train_frame(
        spark, res.select("vec_id", "vec"), seed_min=PQ_K
    )

    probes = ivf_nearest_buckets(
        centroids,
        vecs.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PROBE_ID_MAX)),
        "vec_id",
        IVF_NPROBE,
    ).select(F.col("vec_id").alias("query_id"), F.col("vec").alias("q_vec"), "bucket")

    # 3. per-(query, bucket) residual LUTs via the folded codebook
    # literal (round-17: replaces the 8-row createDataFrame +
    # broadcast join — see pq_codebook_sql)
    cvs_sql = pq_codebook_sql(books)
    qsub = (
        probes.join(F.broadcast(centroids), F.col("bucket") == F.col("c_id"))
        .select(
            "query_id",
            "bucket",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {PQ_SUBS - 1}), s -> struct("
                    f"s AS sub, slice(zip_with(q_vec, c_vec, (a, b) -> a - b),"
                    f" s * {PQ_SUBDIM} + 1, {PQ_SUBDIM}) AS qs))"
                )
            ).alias("x"),
        )
        .select("query_id", "bucket", F.col("x.sub").alias("sub"), F.col("x.qs").alias("qs"))
    )
    luts = (
        qsub.select(
            "query_id",
            "bucket",
            "sub",
            F.expr(
                f"transform({cvs_sql}[sub], cv -> aggregate("
                "zip_with(qs, cv, (a, b) -> (a - b) * (a - b)),"
                " 0D, (acc, x) -> acc + x))"
            ).alias("lut"),
        )
        .groupBy("query_id", "bucket")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(sub, lut))), x -> x.lut)"
            ).alias("luts")
        )
    )

    # 4. scoring: candidates x their bucket's per-query LUTs. Codes
    # ride in the same map-only projection of the checkpointed
    # residual frame that already carries the bucket (round-18) — the
    # broadcast LUT join is the only join left on the candidate path;
    # the window below holds the single data-scale exchange.
    cand = (
        res.select(
            F.col("vec_id").alias("neighbor_id"),
            "bucket",
            pq_codes_col(books, "vec").alias("codes"),
        )
        .join(F.broadcast(luts), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            F.expr(
                f"aggregate(sequence(0, {PQ_SUBS - 1}), 0D,"
                f" (acc, s) -> acc + luts[s][codes[s]])"
            ),
            6,
        ).alias("adc_dist"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= 5
    )


# ---------------------------------------------------------------------------
# Batch 6 — the AUDIO tier of the multimodal pillar: real WAV payloads
# (operators/wav_codec.py), decoded inside Arrow mapInPandas.
# ---------------------------------------------------------------------------

# Synthetic audio-corpus closed form (single source of truth shared by
# the WAV encode stage and, transcribed, the SQL oracles): every
# document carries an 8 kHz 16-bit mono PCM clip whose length and
# samples derive from doc_id. Lengths straddle odd/even (doc_id % 3
# term) so the resample op's lone-tail-sample edge case is a fixture
# case, not a code path the oracle never reaches.
AUDIO_RATE = 8000
AUDIO_N_SQL = "240 + (doc_id % 7) * 80 + doc_id % 3"   # 240..722 samples
AUDIO_N_MAX = 722
AUDIO_V_SQL = "((doc_id + 1) * (i + 7)) % 4001 - 2000"  # int16-safe amplitudes


def _audio_n(doc_id: int) -> int:
    return 240 + (doc_id % 7) * 80 + doc_id % 3


def _audio_sample(doc_id: int, i: int) -> int:
    return ((doc_id + 1) * (i + 7)) % 4001 - 2000


def _wav_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched ENCODE stage: a REAL 8 kHz mono PCM16 WAV per
    document (RIFF/WAVE/fmt/data chunks — operators/wav_codec.py),
    standing in for the binary audio column the schema reserves."""
    import numpy as np

    from hello_flink_spark.operators.wav_codec import encode_wav_pcm16

    for pdf in batches:
        payloads = []
        for d in pdf["doc_id"]:
            d = int(d)
            i = np.arange(_audio_n(d))
            samples = ((d + 1) * (i + 7)) % 4001 - 2000  # == _audio_sample(d, i)
            payloads.append(encode_wav_pcm16(AUDIO_RATE, samples.tolist()))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _audio_stats_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched DECODE + FEATURE-EXTRACT stage: parse/verify each
    WAV payload with the stdlib codec and emit EXACT integer sample
    statistics (min/max/sum-of-squares/zero-crossings) — the float
    math (duration, RMS) stays JVM-side so rounding follows the
    repo's Spark-vs-DuckDB parity conventions."""
    import numpy as np

    from hello_flink_spark.operators.wav_codec import decode_wav_pcm16

    cols = ["doc_id", "sample_rate", "n_samples", "amp_min", "amp_max", "sq_sum", "zero_cross"]
    for pdf in batches:
        rows = []
        for d, blob in zip(pdf["doc_id"], pdf["payload"]):
            rate, s = decode_wav_pcm16(bytes(blob))
            a = np.asarray(s, dtype=np.int64)
            rows.append(
                {
                    "doc_id": int(d),
                    "sample_rate": rate,
                    "n_samples": len(s),
                    "amp_min": int(a.min()),
                    "amp_max": int(a.max()),
                    "sq_sum": int((a * a).sum()),
                    "zero_cross": int(((a[:-1] * a[1:]) < 0).sum()),
                }
            )
        yield pd.DataFrame(rows, columns=cols)


@register(
    "multimodal_audio_stats",
    oracle=f"""
    WITH ns AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, {AUDIO_N_MAX})),
    s AS (
      SELECT d.doc_id, ns.i, {AUDIO_V_SQL.replace('doc_id', 'd.doc_id').replace('(i ', '(ns.i ')} AS v
      FROM documents d JOIN ns ON ns.i < {AUDIO_N_SQL.replace('doc_id', 'd.doc_id')}
    ),
    lagged AS (
      SELECT doc_id, v,
             LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      FROM s
    ),
    m AS (
      SELECT doc_id, COUNT(*) AS n, MIN(v) AS mn, MAX(v) AS mx,
             SUM(v * v) AS sq,
             SUM(CASE WHEN pv IS NOT NULL AND pv * v < 0 THEN 1 ELSE 0 END) AS zc
      FROM lagged GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_samples,
           ROUND(CAST(n AS DOUBLE) * 1000 / {AUDIO_RATE}, 3) AS duration_ms,
           CAST(GREATEST(ABS(mn), ABS(mx)) AS BIGINT) AS peak,
           ROUND(SQRT(CAST(sq AS DOUBLE) / n), 6) AS rms,
           CAST(zc AS BIGINT) AS zero_cross
    FROM m
    """,
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO decode + feature-extract — the multimodal pillar's first
    AUDIO op (the mandate names image/audio/video; until this round
    only image ops existed): every document carries a REAL 8 kHz
    16-bit mono PCM WAV payload (RIFF container, fmt/data chunks —
    operators/wav_codec.py, stdlib-only since the container ships no
    audio libs), decoded with full verification (magic, declared RIFF
    size, chunk walk, PCM16-mono enforcement) inside the Arrow
    ``mapInPandas`` path. The stage ships EXACT integer statistics
    (min/max/Σv²/zero-crossings); duration and RMS are computed
    JVM-side from the same integers the oracle aggregates, so the
    sqrt comparison is bit-stable — the speech-corpus curation
    features (clip length, peak, loudness, voicedness proxy) every
    audio pipeline extracts before filtering.

    Scale shape: one mapInPandas decode stage — embarrassingly
    parallel per input partition, O(samples) per row, NO shuffle; six
    scalars per clip cross the Arrow boundary. With external blobs
    the same plan reads a binaryFile source partitioned by size."""
    d = t(spark, sf_dir, "documents")
    from hello_flink_spark.operators.scale import spread_small_scan

    # round-18 (guide §2.5/§4): spread the id feed — one-split scans
    # serialized the WAV encode+decode at any core count (sf1 probe:
    # 3.16 → 1.33 s at c32; sf0.1 neutral at 0.80-0.87 min-of-7).
    payload = spread_small_scan(d.select("doc_id")).mapInPandas(
        _wav_encode_batches, schema="doc_id long, payload binary"
    )
    mom = payload.mapInPandas(
        _audio_stats_batches,
        schema=(
            "doc_id long, sample_rate long, n_samples long, amp_min long, "
            "amp_max long, sq_sum long, zero_cross long"
        ),
    )
    return mom.select(
        "doc_id",
        "n_samples",
        F.round(F.col("n_samples").cast("double") * 1000 / AUDIO_RATE, 3).alias(
            "duration_ms"
        ),
        F.greatest(F.abs(F.col("amp_min")), F.abs(F.col("amp_max"))).alias("peak"),
        F.round(
            F.sqrt(F.col("sq_sum").cast("double") / F.col("n_samples")), 6
        ).alias("rms"),
        "zero_cross",
    )


def _audio_resample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched RESAMPLE stage: decode, 2:1 decimate by pairwise
    floor-average (a lone tail sample pools as itself), RE-ENCODE as a
    real 4 kHz WAV, decode again and require the roundtrip bit-exact
    before emitting the output clip's stats."""
    import numpy as np

    from hello_flink_spark.operators.wav_codec import decode_wav_pcm16, encode_wav_pcm16

    cols = ["doc_id", "out_rate", "out_n", "out_sum", "out_min", "out_max"]
    for pdf in batches:
        rows = []
        for d, blob in zip(pdf["doc_id"], pdf["payload"]):
            rate, s = decode_wav_pcm16(bytes(blob))
            a = np.asarray(s, dtype=np.int64)
            n2 = len(a) // 2
            # floor-average per pair (numpy // floors like Python //);
            # a lone tail sample pools as itself
            pooled = (a[: 2 * n2].reshape(n2, 2).sum(axis=1) // 2).tolist()
            if len(a) % 2:
                pooled.append(int(a[-1]))
            out = encode_wav_pcm16(rate // 2, pooled)
            rate2, s2 = decode_wav_pcm16(out)
            if rate2 != rate // 2 or s2 != pooled:
                raise ValueError(f"WAV re-encode roundtrip mismatch for doc {d}")
            rows.append(
                {
                    "doc_id": int(d),
                    "out_rate": rate2,
                    "out_n": len(s2),
                    "out_sum": sum(s2),
                    "out_min": min(s2),
                    "out_max": max(s2),
                }
            )
        yield pd.DataFrame(rows, columns=cols)


@register(
    "multimodal_audio_resample",
    oracle=f"""
    WITH ns AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, {AUDIO_N_MAX})),
    s AS (
      SELECT d.doc_id, ns.i, {AUDIO_V_SQL.replace('doc_id', 'd.doc_id').replace('(i ', '(ns.i ')} AS v
      FROM documents d JOIN ns ON ns.i < {AUDIO_N_SQL.replace('doc_id', 'd.doc_id')}
    ),
    pooled AS (
      SELECT doc_id, i // 2 AS b,
             CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS pv
      FROM s GROUP BY doc_id, i // 2
    )
    SELECT doc_id,
           CAST({AUDIO_RATE} // 2 AS BIGINT) AS out_rate,
           CAST(COUNT(*) AS BIGINT) AS out_n,
           CAST(SUM(pv) AS BIGINT) AS out_sum,
           CAST(MIN(pv) AS BIGINT) AS out_min,
           CAST(MAX(pv) AS BIGINT) AS out_max
    FROM pooled GROUP BY doc_id
    """,
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO RESAMPLE — the binary→binary audio transform (the audio
    analog of ``multimodal_resize``): decode each WAV for real, 2:1
    decimate by pairwise floor-average (the odd-length fixture clips
    make the lone-tail-sample edge case real), RE-ENCODE as a real
    4 kHz WAV and decode it again with the roundtrip required
    bit-identical before the output clip's typed stats emit — the
    sample-rate normalization stage every speech pipeline runs before
    featurization, with the whole decode→transform→encode→decode
    chain load-bearing for the driver hash gate.

    Scale shape: one Arrow mapInPandas stage, O(samples) per row,
    embarrassingly parallel per input partition, NO shuffle. The
    oracle recomputes the pooled samples per-SAMPLE from the closed
    form (floor(sum/count) per pair — floor, matching Python's //),
    so decoder, pooling, tail-sample, and re-encode bugs all
    hash-fail."""
    d = t(spark, sf_dir, "documents")
    from hello_flink_spark.operators.scale import spread_small_scan

    # round-18 (guide §2.5/§4): spread the id feed — the decimate
    # round-trip is the audio tier's heaviest chain and ran on the
    # scan's single split (sf0.1 min-of-7 0.86-0.98 → 0.74-0.77;
    # sf1 1.21 s at c32 vs the unspread stats twin's pre-fix 3.16).
    payload = spread_small_scan(d.select("doc_id")).mapInPandas(
        _wav_encode_batches, schema="doc_id long, payload binary"
    )
    return payload.mapInPandas(
        _audio_resample_batches,
        schema=(
            "doc_id long, out_rate long, out_n long, out_sum long, "
            "out_min long, out_max long"
        ),
    )


# ---------------------------------------------------------------------------
# Batch 7 — the [F] Evictor family, batch shadows (VERDICT r08
# "What's missing" #6): CountEvictor / TimeEvictor / DeltaEvictor.
# An evictor trims the window BUFFER before the window function fires;
# per-record eviction has no Structured Streaming hook (documented,
# docs/SEMANTICS.md §3), but the fired windows' CONTENTS are pure
# functions of the completed buffer — exactly expressible in batch as
# a second windowed rank/max over the same keyed partition, so each
# strategy gets an oracle-verified declared query.
# ---------------------------------------------------------------------------

# [F] countWindow(5) / CountEvictor.of(3) — the streaming module owns
# both constants so the batch shadow and its streaming twin
# (stateful.count_window_evictor_stream) can never drift apart
from hello_flink_spark.streaming.stateful import (  # noqa: E402
    COUNT_EVICT_KEEP,
    COUNT_WINDOW_SIZE as COUNT_WIN,
)
TIME_EVICT_HOURS = 6  # [F] TimeEvictor.of(Time.hours(6)) over daily windows
DELTA_EVICT_MAX = 100.0  # [F] DeltaEvictor.of(100, |v - v_newest|)


@register(
    "window_count_evictor",
    oracle=f"""
    WITH numbered AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS total
      FROM events
    ),
    chunked AS (
      SELECT user_id, value, (rn - 1) // {COUNT_WIN} AS chunk,
             (rn - 1) % {COUNT_WIN} + 1 AS pos,
             LEAST({COUNT_WIN}, total - ((rn - 1) // {COUNT_WIN}) * {COUNT_WIN}) AS csize
      FROM numbered
    )
    SELECT user_id, CAST(chunk AS BIGINT) AS chunk,
           COUNT(*) AS cnt_kept, ROUND(SUM(value), 2) AS total_value
    FROM chunked
    WHERE pos > csize - {COUNT_EVICT_KEEP}
    GROUP BY user_id, chunk
    """,
)
def window_count_evictor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] ``countWindow(5)`` + ``CountEvictor.of(3)`` — before each
    count window fires, evict all but the LAST 3 buffered elements
    (Flink's CountEvictor trims from the buffer head), then aggregate
    the survivors. The trailing partial window keeps min(3, size)
    elements — same final-partial-window rule as ``window_count``,
    whose ordering contract (ts, event_id) this op shares.

    Scale shape: ONE (user_id) sort-shuffle serves both window passes
    — the per-chunk buffer size comes from the user-total count over
    the SAME partition (least(5, total - chunk*5)) instead of a second
    (user, chunk)-keyed window, so no extra exchange before the final
    keyed aggregation."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wu = Window.partitionBy("user_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("total", F.count("*").over(wu))
        .withColumn("chunk", ((F.col("rn") - 1) / COUNT_WIN).cast("long"))
        .withColumn("pos", (F.col("rn") - 1) % COUNT_WIN + 1)
        .withColumn(
            "csize",
            F.least(F.lit(COUNT_WIN), F.col("total") - F.col("chunk") * COUNT_WIN),
        )
        .filter(F.col("pos") > F.col("csize") - COUNT_EVICT_KEEP)
        .groupBy("user_id", "chunk")
        .agg(
            F.count("*").alias("cnt_kept"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "window_time_evictor",
    oracle=f"""
    WITH win AS (
      SELECT event_type, value, ts, date_trunc('day', ts) AS window_start,
             MAX(ts) OVER (PARTITION BY date_trunc('day', ts), event_type) AS wmax
      FROM events
    )
    SELECT window_start, event_type,
           COUNT(*) AS cnt_kept, ROUND(SUM(value), 2) AS total_value
    FROM win
    WHERE ts > wmax - INTERVAL {TIME_EVICT_HOURS} HOUR
    GROUP BY window_start, event_type
    """,
)
def window_time_evictor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] ``TumblingEventTimeWindows.of(1 day)`` +
    ``TimeEvictor.of(Time.hours(6))`` — when a daily window fires,
    evict every buffered element older than 6 hours before the
    window's NEWEST element (Flink keeps ts > max_ts − T, strict),
    then aggregate the survivors per event type — the "aggregate only
    the freshest tail of each window" shape (e.g. closing-price
    windows).

    Scale shape: the buffer-max is a window MAX over the same
    (day, event_type) partition the aggregation groups by — one hash
    exchange total; timestamp arithmetic is exact integer microseconds
    on both engines, so the strict > boundary is bit-stable."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    # materialize the window key FIRST: the window partition and the
    # final groupBy then hash the same attribute, so Catalyst reuses
    # one exchange for both (partitioning on the raw date_trunc
    # expression twice defeats the reuse — plan-verified)
    keyed = e.withColumn("window_start", F.date_trunc("day", F.col("ts")))
    wmax = Window.partitionBy("window_start", "event_type")
    return (
        keyed.withColumn("wmax", F.max("ts").over(wmax))
        .filter(
            F.col("ts") > F.col("wmax") - F.expr(f"INTERVAL {TIME_EVICT_HOURS} HOURS")
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count("*").alias("cnt_kept"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "window_delta_evictor",
    oracle=f"""
    WITH win AS (
      SELECT event_type, value, date_trunc('day', ts) AS window_start,
             FIRST_VALUE(value) OVER (
               PARTITION BY date_trunc('day', ts), event_type
               ORDER BY ts DESC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             ) AS newest
      FROM events
    )
    SELECT window_start, event_type,
           COUNT(*) AS cnt_kept, ROUND(SUM(value), 2) AS total_value
    FROM win
    WHERE ABS(value - newest) < {DELTA_EVICT_MAX}
    GROUP BY window_start, event_type
    """,
)
def window_delta_evictor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] ``DeltaEvictor.of(100, delta)`` with ``delta = |value −
    value_newest|`` over daily per-type windows: when the window
    fires, evict every buffered element whose value deviates from the
    window's NEWEST element (by arrival order — the batch shadow's
    (ts, event_id) contract) by ≥ the threshold, then aggregate the
    survivors — the outlier-trim-before-aggregate shape DeltaEvictor
    exists for. The newest element always survives (delta 0).

    Scale shape: the newest-value lookup is a FIRST_VALUE over the
    same (day, event_type) partition the aggregation groups by (one
    sort-exchange); the delta compare is pure JVM float arithmetic on
    identical doubles, so the strict < boundary is bit-stable."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    # window key materialized first for exchange reuse (see
    # window_time_evictor)
    keyed = e.withColumn("window_start", F.date_trunc("day", F.col("ts")))
    wnew = (
        Window.partitionBy("window_start", "event_type")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        keyed.withColumn("newest", F.first("value").over(wnew))
        .filter(F.abs(F.col("value") - F.col("newest")) < DELTA_EVICT_MAX)
        .groupBy("window_start", "event_type")
        .agg(
            F.count("*").alias("cnt_kept"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Batch 8 — the VIDEO tier's analysis op: scene-cut detection over the
# real multi-PNG clip container (extras.py's PNGV format).
# ---------------------------------------------------------------------------

SCENE_CUT_DELTA = 50.0  # |mean_lum(k) - mean_lum(k-1)| > 50 = a hard cut


def _frame_moment_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched 1→N DECODE stage: parse the PNGV container and
    run EVERY frame through the stdlib PNG decoder (CRC check,
    inflate, unfilter), emitting one row per frame with its EXACT
    integer luminance sum — the scene-cut math (means, lags, deltas)
    stays JVM-side."""
    from hello_flink_spark.operators.imaging import iter_pngv_frames
    from hello_flink_spark.operators.png_codec import decode_png_gray

    cols = ["doc_id", "frame_idx", "n_px", "f_sum"]
    for pdf in batches:
        rows = []
        for d, blob in zip(pdf["doc_id"], pdf["payload"]):
            for k, frame in enumerate(iter_pngv_frames(bytes(blob))):
                w, h, px = decode_png_gray(frame)
                rows.append(
                    {
                        "doc_id": int(d),
                        "frame_idx": k,
                        "n_px": w * h,
                        "f_sum": int(sum(px)),
                    }
                )
        yield pd.DataFrame(rows, columns=cols)


@register(
    "multimodal_video_scene_cut",
    oracle=f"""
    WITH xs AS (SELECT CAST(range AS BIGINT) AS x FROM range(0, 8)),
         ys AS (SELECT CAST(range AS BIGINT) AS y FROM range(0, 8)),
         ks AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 9)),
    frames AS (
      SELECT d.doc_id, ks.k,
             SUM((d.doc_id + 31 * xs.x + 17 * ys.y + 97 * ks.k) % 256)
               / CAST((d.doc_id % 8 + 1) * ((d.doc_id * 3) % 8 + 1) AS DOUBLE)
               AS mean_lum
      FROM documents d
      JOIN ks ON ks.k < d.doc_id % 8 + 2
      JOIN xs ON xs.x < d.doc_id % 8 + 1
      JOIN ys ON ys.y < (d.doc_id * 3) % 8 + 1
      GROUP BY d.doc_id, ks.k
    ),
    deltas AS (
      SELECT doc_id, k,
             ABS(mean_lum - LAG(mean_lum) OVER (PARTITION BY doc_id ORDER BY k))
               AS delta
      FROM frames
    )
    SELECT doc_id,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN delta > {SCENE_CUT_DELTA} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cuts,
           CAST(COALESCE(MIN(CASE WHEN delta > {SCENE_CUT_DELTA} THEN k END), -1)
                AS BIGINT) AS first_cut,
           ROUND(MAX(delta), 6) AS max_delta
    FROM deltas
    WHERE delta IS NOT NULL
    GROUP BY doc_id
    """,
)
def multimodal_video_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO scene-cut detection — the analysis tier of the pillar's
    video path (the mandate names image/audio/VIDEO; until this op the
    only video op was stride frame-sampling): parse each document's
    real multi-PNG clip container (extras.py's PNGV format), decode
    EVERY frame for real (CRC, inflate, unfilter), and detect hard
    cuts as frame-to-frame mean-luminance jumps above
    {SCENE_CUT_DELTA} — the shot-boundary pass a video-corpus pipeline
    runs before per-shot sampling/captioning. Emits per clip: frame
    count, cut count, first cut index (−1 when none — every clip has
    ≥ 2 frames, so every clip has ≥ 1 delta and a row), max delta.

    Scale shape: the decode stage is a 1→N mapInPandas explosion
    (one row per frame, THREE integer scalars — no pixels — cross the
    Arrow boundary); means/lags/cut logic are JVM-side: one window +
    one aggregation over the SAME (doc_id) partition, a single
    sort-exchange. The mean division happens on both engines from the
    same exact integers, so the strict > boundary is bit-stable even
    when a delta lands exactly on the threshold."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    from hello_flink_spark.operators.scale import spread_small_scan
    from hello_flink_spark.queries.extras import _video_encode_batches

    payload = spread_small_scan(d.select("doc_id")).mapInPandas(
        _video_encode_batches, schema="doc_id long, payload binary"
    )
    frames = payload.mapInPandas(
        _frame_moment_batches,
        schema="doc_id long, frame_idx long, n_px long, f_sum long",
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    mean = F.col("f_sum").cast("double") / F.col("n_px")
    cut = F.col("delta") > SCENE_CUT_DELTA
    return (
        frames.withColumn("delta", F.abs(mean - F.lag(mean).over(w)))
        .filter(F.col("delta").isNotNull())
        .groupBy("doc_id")
        .agg(
            (F.count("*") + 1).alias("n_frames"),
            F.sum(cut.cast("long")).alias("n_cuts"),
            F.coalesce(
                F.min(F.when(cut, F.col("frame_idx"))), F.lit(-1).cast("long")
            ).alias("first_cut"),
            F.round(F.max("delta"), 6).alias("max_delta"),
        )
    )


# ---------------------------------------------------------------------------
# Batch 9 — [F] DeltaTrigger: the last unmapped trigger strategy.
# ---------------------------------------------------------------------------

DELTA_TRIGGER_THRESH = 200.0  # fire when |v - v_at_last_fire| > 200


def _delta_trigger_fold(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-user sequential DeltaTrigger fold (the trigger is a
    recurrence — baseline updates only at fires — so it is inherently
    order-sensitive and non-associative): first element becomes the
    delta baseline WITHOUT firing (Flink DeltaTrigger.onElement),
    each later element fires iff delta(baseline, v) > threshold,
    updating the baseline. A fire emits the global window's running
    aggregate over ALL elements so far (FIRE, not FIRE_AND_PURGE).

    r10: the REFERENCE model — the shipped operator runs the same
    recurrence through the cross-key lockstep scan in
    ``_keyed_lockstep_map`` (tests pin row-for-row equality over the
    fixture and property data)."""
    pdf = pdf.sort_values(["ts", "event_id"], ignore_index=True)
    out = []
    baseline = None
    total = 0.0
    fires = 0
    for i, v in enumerate(pdf["value"]):
        v = float(v)
        total += v
        if baseline is None:
            baseline = v
        elif abs(v - baseline) > DELTA_TRIGGER_THRESH:
            fires += 1
            baseline = v
            out.append(
                {
                    "user_id": int(pdf["user_id"].iloc[0]),
                    "fire_seq": fires,
                    "n_events": i + 1,
                    "total_value": round(total, 2),
                    "trigger_value": v,
                }
            )
    return pd.DataFrame(
        out, columns=["user_id", "fire_seq", "n_events", "total_value", "trigger_value"]
    )


# ---------------------------------------------------------------------------
# r10 (VERDICT r09 #7): the two sequential recurrences above/below ran
# as ONE applyInPandas invocation PER KEY — and the fixture shape is
# many small keys (sf0.1: 1,500 users × ~67 events), so the cost was
# never the per-row Python loop (measured 1.2 s single-threaded for
# the whole corpus) but the ~5 ms Arrow round-trip per GROUP, serialized
# over the 2 post-AQE shuffle partitions (measured 4.3 s wall). The
# shipped shape is now a SEGMENTED scan: one user_id shuffle +
# within-partition (user, ts, event_id) sort, then mapInPandas runs
# every key of an Arrow batch in LOCKSTEP — a numpy step loop over the
# padded (keys × max_len) matrix, one Python invocation per ~10k-row
# batch instead of per key. Per-element arithmetic is the exact scalar
# op sequence (elementwise numpy IEEE ops in the same order), so the
# output is bit-identical to the per-key reference folds — pinned by
# tests/test_llm.py::test_lockstep_scan_equals_reference_folds.
# ---------------------------------------------------------------------------


def _segments(uids: "np.ndarray"):  # noqa: F821 — numpy imported lazily
    """Group starts/ends/lengths for a sorted key column."""
    import numpy as np

    starts = np.flatnonzero(np.r_[True, uids[1:] != uids[:-1]])
    ends = np.r_[starts[1:], len(uids)]
    return starts, ends, ends - starts


def _padded(col: "np.ndarray", starts, lens):  # noqa: F821
    """(n_groups × max_len) row-major padding of a concatenated-groups
    column; padding cells are 0.0 and masked out of every emission."""
    import numpy as np

    L = int(lens.max())
    mask = np.arange(L)[None, :] < lens[:, None]
    mat = np.zeros((len(starts), L), dtype=np.float64)
    mat[mask] = col
    return mat, mask, L


def _cusum_lockstep(pdf: pd.DataFrame, carry: dict) -> pd.DataFrame:
    """One Arrow batch of the CUSUM scan: all keys step together.
    ``carry`` holds the straddling last key's (s, n, alarms) so a key
    split across batch boundaries folds seamlessly.

    Degenerate-shape guard (the VERDICT r09 #3 10⁸-events-per-key
    case): when the batch is TALL (max group length > rows/3 — one or
    few keys dominating), the lockstep's per-STEP numpy overhead
    exceeds a plain per-row loop over width-~1 vectors, so fall back
    to the scalar chain per group. Both paths run the identical
    pre-associated ``s + d`` op sequence, so the output is
    bit-identical either way (pinned by the forced-tiny-batch and
    single-key tests)."""
    import numpy as np

    uids = pdf["user_id"].to_numpy()
    v = pdf["value"].to_numpy(np.float64)
    d = (v - CUSUM_MU) - CUSUM_K
    starts, ends, lens = _segments(uids)
    G = len(starts)
    rows: list[tuple] = []
    if int(lens.max()) * 3 > len(uids):
        for g in range(G):
            a, b = int(starts[g]), int(ends[g])
            uid = int(uids[a])
            if carry.get("uid") is not None and g == 0 and uid == carry["uid"]:
                s, n0, al = carry["s"], carry["n"], carry["al"]
            else:
                s, n0, al = 0.0, 0, 0
            for i in range(a, b):
                s = max(0.0, s + d[i])
                if s > CUSUM_H:
                    al += 1
                    rows.append(
                        (uid, al, n0 + (i - a) + 1, round(s, 6), float(v[i]))
                    )
                    s = 0.0
            last = (s, n0 + (b - a), al)
        carry.update(uid=int(uids[-1]), s=last[0], n=last[1], al=last[2])
        return pd.DataFrame(
            rows,
            columns=["user_id", "alarm_seq", "n_events", "cusum_stat", "trigger_value"],
        )
    mat, mask, L = _padded(d, starts, lens)
    s = np.zeros(G)
    n0 = np.zeros(G, dtype=np.int64)
    al = np.zeros(G, dtype=np.int64)
    if carry.get("uid") is not None and uids[0] == carry["uid"]:
        s[0], n0[0], al[0] = carry["s"], carry["n"], carry["al"]
    for t in range(L):
        s = s + mat[:, t]
        np.maximum(s, 0.0, out=s)
        hit = (s > CUSUM_H) & mask[:, t]
        if hit.any():
            for g in np.flatnonzero(hit):
                al[g] += 1
                i = int(starts[g]) + t
                rows.append(
                    (
                        int(uids[i]),
                        int(al[g]),
                        int(n0[g]) + t + 1,
                        round(float(s[g]), 6),
                        float(v[i]),
                    )
                )
            s[hit] = 0.0
    carry.update(
        uid=int(uids[-1]),
        s=float(s[-1]),
        n=int(n0[-1] + lens[-1]),
        al=int(al[-1]),
    )
    return pd.DataFrame(
        rows, columns=["user_id", "alarm_seq", "n_events", "cusum_stat", "trigger_value"]
    )


def _delta_lockstep(pdf: pd.DataFrame, carry: dict) -> pd.DataFrame:
    """One Arrow batch of the DeltaTrigger scan, lockstep across keys;
    ``carry`` = straddling key's (baseline, total, n, fires). Same
    tall-batch scalar fallback as ``_cusum_lockstep`` (bit-identical
    op sequence on both paths)."""
    import numpy as np

    uids = pdf["user_id"].to_numpy()
    v = pdf["value"].to_numpy(np.float64)
    starts, ends, lens = _segments(uids)
    G = len(starts)
    if int(lens.max()) * 3 > len(uids):
        rows: list[tuple] = []
        for g in range(G):
            a, b = int(starts[g]), int(ends[g])
            uid = int(uids[a])
            if carry.get("uid") is not None and g == 0 and uid == carry["uid"]:
                base, tot = carry["base"], carry["tot"]
                n0, fires = carry["n"], carry["fires"]
                seeded = True
            else:
                base, tot, n0, fires, seeded = 0.0, 0.0, 0, 0, False
            for i in range(a, b):
                x = v[i]
                tot = tot + x
                if not seeded:
                    base, seeded = x, True
                elif abs(x - base) > DELTA_TRIGGER_THRESH:
                    fires += 1
                    rows.append(
                        (uid, fires, n0 + (i - a) + 1, round(tot, 2), float(x))
                    )
                    base = x
            last = (base, tot, n0 + (b - a), fires)
        carry.update(
            uid=int(uids[-1]), base=last[0], tot=last[1], n=last[2], fires=last[3]
        )
        return pd.DataFrame(
            rows,
            columns=["user_id", "fire_seq", "n_events", "total_value", "trigger_value"],
        )
    mat, mask, L = _padded(v, starts, lens)
    base = np.zeros(G)
    seeded = np.zeros(G, dtype=bool)
    tot = np.zeros(G)
    n0 = np.zeros(G, dtype=np.int64)
    fires = np.zeros(G, dtype=np.int64)
    if carry.get("uid") is not None and uids[0] == carry["uid"]:
        base[0], tot[0] = carry["base"], carry["tot"]
        n0[0], fires[0] = carry["n"], carry["fires"]
        seeded[0] = True
    rows: list[tuple] = []
    for t in range(L):
        valid = mask[:, t]
        col = mat[:, t]
        tot = np.where(valid, tot + col, tot)
        fresh = valid & ~seeded
        if fresh.any():
            base[fresh] = col[fresh]
            seeded |= fresh
        hit = valid & ~fresh & (np.abs(col - base) > DELTA_TRIGGER_THRESH)
        if hit.any():
            for g in np.flatnonzero(hit):
                fires[g] += 1
                i = int(starts[g]) + t
                rows.append(
                    (
                        int(uids[i]),
                        int(fires[g]),
                        int(n0[g]) + t + 1,
                        round(float(tot[g]), 2),
                        float(col[g]),
                    )
                )
            base[hit] = col[hit]
    carry.update(
        uid=int(uids[-1]),
        base=float(base[-1]),
        tot=float(tot[-1]),
        n=int(n0[-1] + lens[-1]),
        fires=int(fires[-1]),
    )
    return pd.DataFrame(
        rows, columns=["user_id", "fire_seq", "n_events", "total_value", "trigger_value"]
    )


def _lockstep_map(step) -> "Callable":  # noqa: F821
    """mapInPandas wrapper: thread the straddling-key carry through the
    partition's batch stream (batches arrive in partition sort order)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: dict = {"uid": None}
        for pdf in batches:
            if len(pdf):
                out = step(pdf, carry)
                if len(out):
                    yield out

    return run


def _keyed_lockstep_map(df: DataFrame, step, schema: str) -> DataFrame:
    """The segmented-scan operator shape shared by the CUSUM and
    DeltaTrigger recurrences: ONE hash shuffle on user_id (every key's
    rows in one partition), a within-partition (user, ts, event_id)
    sort giving every key its event-time fold order, then a lockstep
    numpy scan per Arrow batch — O(keys × max_len) vector steps, one
    Python invocation per batch, bit-identical to the per-key scalar
    fold."""
    p = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(p, "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(_lockstep_map(step), schema=schema)
    )


@register(
    "events_delta_trigger",
    oracle=f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    st AS (
      SELECT user_id, rn, value AS baseline, value AS total,
             0 AS fires, FALSE AS fired, value AS v
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn,
             CASE WHEN ABS(e.value - st.baseline) > {DELTA_TRIGGER_THRESH}
                  THEN e.value ELSE st.baseline END,
             st.total + e.value,
             st.fires + CASE WHEN ABS(e.value - st.baseline) > {DELTA_TRIGGER_THRESH}
                             THEN 1 ELSE 0 END,
             ABS(e.value - st.baseline) > {DELTA_TRIGGER_THRESH},
             e.value
      FROM st JOIN ev e ON e.user_id = st.user_id AND e.rn = st.rn + 1
    )
    SELECT user_id, CAST(fires AS BIGINT) AS fire_seq,
           CAST(rn AS BIGINT) AS n_events,
           ROUND(total, 2) AS total_value, v AS trigger_value
    FROM st WHERE fired
    """,
)
def events_delta_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F] ``GlobalWindows`` + ``DeltaTrigger.of(200, |v − v_last|)``
    — batch shadow of the last unmapped trigger strategy (the count
    and processing-time triggers were mapped in round 3, docs/
    SEMANTICS.md §3): the trigger keeps the element at the LAST FIRE
    as its delta baseline (the first element seeds it without
    firing), fires whenever the current element deviates from that
    baseline by more than the threshold, and each fire emits the
    global window's running (count, sum) over all elements so far —
    the change-point snapshot shape DeltaTrigger exists for
    (emit-on-meaningful-change, not on time).

    Spark shape (r10, VERDICT r09 #7): the fold is a genuine
    recurrence (baseline updates only at fires), non-associative and
    not window-expressible — the honest batch primitive is ONE
    (user_id) shuffle + within-partition event-time sort + the
    lockstep numpy segmented scan (``_keyed_lockstep_map``): every
    key of an Arrow batch steps together, one Python invocation per
    ~10k-row batch instead of per key (the per-GROUP Arrow round-trip
    was the measured cost on the many-small-keys shape — 4.0 s → see
    the block comment above ``_segments``). Bit-identical to the
    per-key reference fold, which the streaming twin
    ``stateful.stateful_delta_trigger`` also runs incrementally with
    O(1) state per key. The oracle replays the identical recurrence
    as a DuckDB RECURSIVE CTE with left-to-right double accumulation,
    so every emitted scalar is bit-stable."""
    e = t(spark, sf_dir, "events")
    return _keyed_lockstep_map(
        e.select("user_id", "ts", "event_id", "value"),
        _delta_lockstep,
        (
            "user_id long, fire_seq long, n_events long, "
            "total_value double, trigger_value double"
        ),
    )


# ---------------------------------------------------------------------------
# Batch 10 — multimodal_audio_vad_segments: energy VAD + gaps-and-islands
# ---------------------------------------------------------------------------

VAD_FRAME = 40             # 5 ms frames at 8 kHz (full frames only)
VAD_THRESH = 53_000_000    # frame Σv² energy gate (~median on the fixture)


def _frame_energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched DECODE + FRAME stage: decode each WAV, split into
    full {VAD_FRAME}-sample frames, emit one row per frame with its
    EXACT integer energy (Σv²) — voicing, island grouping and segment
    stats stay JVM-side."""
    import numpy as np

    from hello_flink_spark.operators.wav_codec import decode_wav_pcm16

    cols = ["doc_id", "frame_idx", "energy"]
    for pdf in batches:
        ids: list[int] = []
        idxs: list[int] = []
        es: list[int] = []
        for d, blob in zip(pdf["doc_id"], pdf["payload"]):
            _, s = decode_wav_pcm16(bytes(blob))
            a = np.asarray(s, dtype=np.int64)
            nf = len(a) // VAD_FRAME
            e = (a[: nf * VAD_FRAME] ** 2).reshape(nf, VAD_FRAME).sum(axis=1)
            ids.extend([int(d)] * nf)
            idxs.extend(range(nf))
            es.extend(int(x) for x in e)
        yield pd.DataFrame(
            {"doc_id": ids, "frame_idx": idxs, "energy": es}, columns=cols
        )


@register(
    "multimodal_audio_vad_segments",
    oracle=f"""
    WITH ns AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, {AUDIO_N_MAX})),
    s AS (
      SELECT d.doc_id, ns.i, {AUDIO_V_SQL.replace('doc_id', 'd.doc_id').replace('(i ', '(ns.i ')} AS v
      FROM documents d
      JOIN ns ON ns.i < (({AUDIO_N_SQL.replace('doc_id', 'd.doc_id')}) // {VAD_FRAME}) * {VAD_FRAME}
    ),
    frames AS (
      SELECT doc_id, i // {VAD_FRAME} AS frame_idx,
             SUM(v * v) > {VAD_THRESH} AS voiced
      FROM s GROUP BY doc_id, i // {VAD_FRAME}
    ),
    flagged AS (
      SELECT doc_id, frame_idx, voiced,
             CASE WHEN voiced AND NOT COALESCE(
               LAG(voiced) OVER (PARTITION BY doc_id ORDER BY frame_idx), FALSE)
             THEN 1 ELSE 0 END AS seg_start
      FROM frames
    ),
    islanded AS (
      SELECT doc_id, voiced,
             SUM(seg_start) OVER (PARTITION BY doc_id ORDER BY frame_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      FROM flagged
    ),
    base AS (
      SELECT doc_id, COUNT(*) AS n_frames,
             SUM(CASE WHEN voiced THEN 1 ELSE 0 END) AS n_voiced
      FROM islanded GROUP BY doc_id
    ),
    runs AS (
      SELECT doc_id, seg_id, COUNT(*) AS run_len
      FROM islanded WHERE voiced GROUP BY doc_id, seg_id
    ),
    segs AS (
      SELECT doc_id, COUNT(*) AS n_segments, MAX(run_len) AS longest_segment
      FROM runs GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(b.n_frames AS BIGINT) AS n_frames,
           CAST(b.n_voiced AS BIGINT) AS n_voiced,
           CAST(COALESCE(sg.n_segments, 0) AS BIGINT) AS n_segments,
           CAST(COALESCE(sg.longest_segment, 0) AS BIGINT) AS longest_segment
    FROM base b LEFT JOIN segs sg ON sg.doc_id = b.doc_id
    """,
)
def multimodal_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO VAD SEGMENTATION — the third audio-tier op: decode each
    WAV, split into 5 ms frames, gate on exact integer frame energy
    (Σv² > threshold, the classic energy VAD), and reduce the voiced
    mask to SEGMENTS via gaps-and-islands — per clip: frame count,
    voiced-frame count, segment count, longest segment. This is the
    utterance-boundary pass a speech-corpus pipeline runs before
    per-segment transcription; the fixture threshold sits at the
    energy median so every structure class is present (2 clips with
    zero voiced frames exercise the empty-join COALESCE path, 22 are
    fully voiced).

    Scale shape: the decode stage is a 1→N mapInPandas explosion
    (one integer energy per frame crosses Arrow, never samples); the
    voiced flag, island ids (LAG + running SUM over the SAME (doc_id)
    sort), and both aggregations are JVM-side; integer energies make
    the threshold compare exact on both engines."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    # Deliberately NOT spread_small_scan here (unlike the dedup tier):
    # this decode is light and the plan already pays a (doc_id) sort
    # exchange right after it — A/B at sf0.1 measured 0.93 s unspread
    # vs 1.51 s spread (the extra exchange + per-task overhead beats
    # the parallelism gain for a cheap Python stage).
    payload = d.select("doc_id").mapInPandas(
        _wav_encode_batches, schema="doc_id long, payload binary"
    )
    frames = payload.mapInPandas(
        _frame_energy_batches, schema="doc_id long, frame_idx long, energy long"
    )
    w1 = Window.partitionBy("doc_id").orderBy("frame_idx")
    wrun = w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    f = (
        frames.withColumn("voiced", F.col("energy") > VAD_THRESH)
        .withColumn(
            "seg_start",
            (
                F.col("voiced")
                & ~F.coalesce(F.lag("voiced").over(w1), F.lit(False))
            ).cast("long"),
        )
        .withColumn("seg_id", F.sum("seg_start").over(wrun))
    )
    base = f.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.col("voiced").cast("long")).alias("n_voiced"),
    )
    runs = (
        f.filter(F.col("voiced"))
        .groupBy("doc_id", "seg_id")
        .agg(F.count("*").alias("run_len"))
    )
    segs = runs.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"), F.max("run_len").alias("longest_segment")
    )
    return base.join(segs, "doc_id", "left").select(
        "doc_id",
        "n_frames",
        "n_voiced",
        F.coalesce("n_segments", F.lit(0).cast("long")).alias("n_segments"),
        F.coalesce("longest_segment", F.lit(0).cast("long")).alias("longest_segment"),
    )


# ---------------------------------------------------------------------------
# Batch 11 — events_cusum_alarms: CUSUM drift detection (Page 1954),
# the second sequential recurrence made hash-verifiable by a DuckDB
# RECURSIVE CTE oracle (the events_delta_trigger trick generalizes).
# ---------------------------------------------------------------------------

CUSUM_MU = 50.0   # process target (fixture value mean ~49.6)
CUSUM_K = 15.0    # slack: ignore drift below k per observation
CUSUM_H = 250.0   # decision threshold; alarm resets the statistic


def _cusum_fold(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-user one-sided upper CUSUM (Page's test): s ← max(0,
    s + v − μ − k); an s > h crossing raises an alarm and RESTARTS
    the statistic (the standard post-alarm reset). Sequential and
    non-associative like the delta trigger — same per-key Arrow fold
    primitive, same recursive-CTE oracle strategy.

    r10: the REFERENCE model for the shipped lockstep scan (see
    ``_keyed_lockstep_map``); the per-step increment is the
    pre-associated ``s + ((v − μ) − k)`` on every engine (fold,
    lockstep, oracle, streaming twin), so all four run the identical
    IEEE op sequence."""
    pdf = pdf.sort_values(["ts", "event_id"], ignore_index=True)
    out = []
    s = 0.0
    alarms = 0
    for i, v in enumerate(pdf["value"]):
        s = max(0.0, s + (float(v) - CUSUM_MU - CUSUM_K))
        if s > CUSUM_H:
            alarms += 1
            out.append(
                {
                    "user_id": int(pdf["user_id"].iloc[0]),
                    "alarm_seq": alarms,
                    "n_events": i + 1,
                    "cusum_stat": round(s, 6),
                    "trigger_value": float(v),
                }
            )
            s = 0.0
    return pd.DataFrame(
        out, columns=["user_id", "alarm_seq", "n_events", "cusum_stat", "trigger_value"]
    )


@register(
    "events_cusum_alarms",
    oracle=f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    st AS (
      SELECT user_id, rn, value AS v,
             GREATEST(0.0, value - {CUSUM_MU} - {CUSUM_K}) AS s_raw,
             0 AS alarms
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.value,
             GREATEST(0.0,
               (CASE WHEN st.s_raw > {CUSUM_H} THEN 0.0 ELSE st.s_raw END)
               + (e.value - {CUSUM_MU} - {CUSUM_K})),
             st.alarms + CASE WHEN st.s_raw > {CUSUM_H} THEN 1 ELSE 0 END
      FROM st JOIN ev e ON e.user_id = st.user_id AND e.rn = st.rn + 1
    )
    SELECT user_id,
           CAST(alarms + 1 AS BIGINT) AS alarm_seq,
           CAST(rn AS BIGINT) AS n_events,
           ROUND(s_raw, 6) AS cusum_stat,
           v AS trigger_value
    FROM st WHERE s_raw > {CUSUM_H}
    """,
)
def events_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection (Page 1954) per user: the one-sided upper
    cumulative-sum statistic s ← max(0, s + v − μ − k) with an alarm
    (and the standard restart) whenever s crosses the decision
    threshold h — the classic sequential change-point detector that
    complements the engine's distributional drift gate
    (events_value_psi) with an ORDERED, per-entity one: PSI asks "did
    the distribution shift between snapshots", CUSUM asks "WHEN did
    this key's stream start running hot". 83 alarms across 64 of 150
    users at sf0.01 — alarming and quiet users both present.

    Spark shape (r10, VERDICT r09 #7): a genuine non-associative
    recurrence (the restart couples every step to the alarm history),
    shipped as the same lockstep numpy segmented scan as
    events_delta_trigger (``_keyed_lockstep_map``): one (user_id)
    shuffle + within-partition event-time sort, then every key of an
    Arrow batch steps together — sequential per key, vectorized
    across keys, one Python invocation per batch. The per-step
    increment is the pre-associated ``s + ((v − μ) − k)`` on every
    engine (lockstep, reference fold, oracle, streaming twin), so the
    scan is bit-identical to the scalar recurrence by construction.
    The oracle replays it as a DuckDB RECURSIVE CTE carrying
    (statistic, alarm count) per step — GREATEST/max and the
    threshold compare run on identical doubles, so every emitted
    scalar is bit-stable. The streaming twin
    (stateful.stateful_cusum) carries two scalars + the reorder
    buffer per key."""
    e = t(spark, sf_dir, "events")
    return _keyed_lockstep_map(
        e.select("user_id", "ts", "event_id", "value"),
        _cusum_lockstep,
        (
            "user_id long, alarm_seq long, n_events long, "
            "cusum_stat double, trigger_value double"
        ),
    )


# ---------------------------------------------------------------------------
# Batch 12 — multimodal_audio_dedup_fingerprint: the AUDIO near-dup tier.
# The pillar's dedup story so far covers IMAGE (multimodal_dedup_phash)
# and ~15 text ops; audio corpora dedup just as surely (re-uploaded /
# re-encoded clips), and the standard tool is an ENERGY FINGERPRINT
# (robust-audio-hashing family, Haitsma & Kalker 2002: coarse spectral/
# energy features -> sign bits -> hamming distance). This op is the
# first-principles version of that shape over REAL decoded WAV bytes.
# ---------------------------------------------------------------------------

# Fingerprint-corpus closed form: every document carries an 8 kHz PCM16
# WAV of 64 frames x 20 samples whose per-frame LOUDNESS follows a
# per-group two-level pattern (loud/quiet frames at ~0.42 density) with
# at most ONE flipped frame per variant — near-dup structure BY
# CONSTRUCTION (intra-group fingerprints differ by <= 2 bits, measured
# cross-group minimum is 17; popcounts 24..32, never degenerate),
# and every frame energy has a closed-form per-sample SQL oracle.
# The two amplitude levels keep every frame's energy far from the clip
# mean, so the sign bits are exactly the pattern bits — no marginal
# flips from the one-frame energy shift (|ΔΣE| = 43.2M vs the >= 800M
# gap between either level's e*64 and the total).
AFP_FRAME = 20          # samples per fingerprint frame
AFP_FRAMES = 64         # frames per clip -> one 64-bit fingerprint
AFP_N = AFP_FRAME * AFP_FRAMES  # 1280 samples (~160 ms @ 8 kHz)
AFP_GROUPS = 23         # near-dup clusters
AFP_VARIANTS = 9        # v=0 pristine, else one flipped frame
AFP_MULT = 48271        # minstd multiplier — decorrelated from PHASH_*
AFP_MOD = 97
AFP_THRESH = 41         # loud-frame density ~0.42
AFP_HI = 1500           # loud-frame amplitude (int16-safe)
AFP_LO = 300            # quiet-frame amplitude
AFP_HAMMING_MAX = 2     # near-dup verify threshold (intra-group max is 2)
AFP_BANDS = 4           # 4 x 16-bit bands: complete for hamming <= 2
                        # by the same pigeonhole as PHASH_BANDS


def _afp_loud(doc_id: int, b: int) -> bool:
    """Closed-form per-frame loudness bit — the single source of truth
    shared by the WAV encode stage and (transcribed) the SQL oracle."""
    g, v = doc_id % AFP_GROUPS, (doc_id // AFP_GROUPS) % AFP_VARIANTS
    pattern = ((g + 1) * (b + 5) * AFP_MULT) % AFP_MOD < AFP_THRESH
    flipped = v != 0 and b == (v * 11 + g * 3) % 64
    return pattern != flipped


def _afp_sample(doc_id: int, i: int) -> int:
    amp = AFP_HI if _afp_loud(doc_id, i // AFP_FRAME) else AFP_LO
    return amp if i % 2 == 0 else -amp  # alternate sign: a real waveform


def _afp_wav_encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched ENCODE stage: a REAL 8 kHz PCM16 WAV per document
    (RIFF/fmt/data — operators/wav_codec.py). Samples are built with
    vectorized numpy (identical values to the scalar ``_afp_sample``,
    which the unit tests pin)."""
    import numpy as np

    from hello_flink_spark.operators.wav_codec import encode_wav_pcm16

    b = np.arange(AFP_FRAMES)
    sign = np.where(np.arange(AFP_N) % 2 == 0, 1, -1)
    for pdf in batches:
        payloads = []
        for d in pdf["doc_id"]:
            d = int(d)
            g, v = d % AFP_GROUPS, (d // AFP_GROUPS) % AFP_VARIANTS
            pattern = ((g + 1) * (b + 5) * AFP_MULT) % AFP_MOD < AFP_THRESH
            flipped = (v != 0) & (b == (v * 11 + g * 3) % 64)
            amps = np.where(pattern != flipped, AFP_HI, AFP_LO)
            samples = np.repeat(amps, AFP_FRAME) * sign
            payloads.append(encode_wav_pcm16(AUDIO_RATE, samples.tolist()))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _afp_frame_energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched DECODE stage: parse/verify each WAV with the
    stdlib codec and emit ONE row per clip carrying its EXACT integer
    frame energies Σv² as ``array<long>`` — the fingerprint math (mean
    compare, bit packing, banding) stays JVM-side as higher-order
    array functions, so only 64 integers per clip cross the Arrow
    boundary (never samples) and no per-frame row explosion ever
    reaches the JVM (r12: the former 64-rows-per-clip shape forced a
    doc_id window Exchange before the pack; an array column makes the
    pack a pure projection — zero shuffles before the exact-signature
    collapse)."""
    import numpy as np

    from hello_flink_spark.operators.wav_codec import decode_wav_pcm16

    for pdf in batches:
        ids: list[int] = []
        es: list[list[int]] = []
        for d, blob in zip(pdf["doc_id"], pdf["payload"]):
            _, s = decode_wav_pcm16(bytes(blob))
            a = np.asarray(s, dtype=np.int64)
            nf = len(a) // AFP_FRAME
            e = (a[: nf * AFP_FRAME] ** 2).reshape(nf, AFP_FRAME).sum(axis=1)
            ids.append(int(d))
            es.append([int(x) for x in e])
        yield pd.DataFrame({"doc_id": ids, "energies": es}, columns=["doc_id", "energies"])


# The oracle regenerates every SAMPLE from the closed form (numbers
# CTE), pools frame energies, re-derives the sign bits from the exact
# integer compare e*nf > total, packs with the same two's-complement
# wrap as the phash oracle, and takes the textbook all-pairs
# neighborhoods — codec, framing, packing, and banding-completeness
# bugs all hash-fail.
_AFP_ORACLE = f"""
WITH ns AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, {AFP_N})),
s AS (
  SELECT d.doc_id, ns.i // {AFP_FRAME} AS b,
         (CASE WHEN (
             ((d.doc_id % {AFP_GROUPS} + 1) * (ns.i // {AFP_FRAME} + 5)
              * {AFP_MULT}) % {AFP_MOD} < {AFP_THRESH}
           ) != (
             (d.doc_id // {AFP_GROUPS}) % {AFP_VARIANTS} != 0
             AND ns.i // {AFP_FRAME} =
                 (((d.doc_id // {AFP_GROUPS}) % {AFP_VARIANTS}) * 11
                  + (d.doc_id % {AFP_GROUPS}) * 3) % 64
           ) THEN {AFP_HI} ELSE {AFP_LO} END)
         * (CASE WHEN ns.i % 2 = 0 THEN 1 ELSE -1 END) AS v
  FROM documents d, ns
),
fr AS (SELECT doc_id, b, SUM(v * v) AS e FROM s GROUP BY doc_id, b),
tot AS (SELECT doc_id, SUM(e) AS te, COUNT(*) AS nf FROM fr GROUP BY doc_id),
fps AS (
  SELECT doc_id,
         CAST(CASE WHEN sraw >= 9223372036854775808
                   THEN sraw - 18446744073709551616 ELSE sraw END AS BIGINT) AS afp
  FROM (
    SELECT fr.doc_id,
           SUM(CASE WHEN fr.e * tot.nf > tot.te
                    THEN CAST(1 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END
               * (CAST(1 AS HUGEINT) << CAST(fr.b AS INTEGER))) AS sraw
    FROM fr JOIN tot ON tot.doc_id = fr.doc_id
    GROUP BY fr.doc_id
  )
),
nbrs AS (
  SELECT a.doc_id, MIN(o.doc_id) AS mn
  FROM fps a JOIN fps o
    ON o.doc_id != a.doc_id
   AND bit_count(xor(a.afp, o.afp)) <= {AFP_HAMMING_MAX}
  GROUP BY a.doc_id
)
SELECT f.doc_id, f.afp,
       CAST(LEAST(COALESCE(n.mn, f.doc_id), f.doc_id) AS BIGINT) AS keep_doc_id
FROM fps f LEFT JOIN nbrs n ON n.doc_id = f.doc_id
"""


@register("multimodal_audio_dedup_fingerprint", oracle=_AFP_ORACLE)
def multimodal_audio_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-duplicate detection by energy fingerprint — the
    multimodal pillar's audio dedup tier, completing the near-dup
    story the pillar already tells for images
    (``multimodal_dedup_phash``) and text (the dedup family): decode
    every document's WAV payload for real (RIFF chunk walk, PCM16
    verification — operators/wav_codec.py) inside Arrow
    ``mapInPandas``, fingerprint it with the robust-audio-hashing
    shape (Haitsma & Kalker 2002, first-principles variant: bit b =
    frame b's exact integer energy above the clip mean energy), and
    find near-dups EXACTLY like the simhash/phash tier: 4x16-bit
    hamming-band candidate generation (pigeonhole-complete for
    hamming <= {AFP_HAMMING_MAX}), exact ``bit_count(XOR)`` verify on
    survivors, idempotent MIN collapse to the linear-size per-clip
    representative.

    Division of labor (deliberately different from phash, which packs
    in numpy): only 64 exact INTEGER energies per clip cross the Arrow
    boundary, as ONE ``array<long>`` row per clip; the sign bits come
    from the integer compare ``e * n_frames > total`` (no float mean,
    so the boundary is bit-stable by construction) and the 64-bit pack
    is a JVM-side higher-order ``aggregate(zip_with(...))`` projection
    whose int64 two's-complement wrap matches the oracle's HUGEINT
    fold exactly — no per-frame row explosion, no window, zero
    shuffles before the exact-signature collapse.

    Scale shape (r10, VERDICT r09 #1 — operators/banded_dedup.py):
    encode/decode embarrassingly parallel per input partition; the
    per-frame explosion is 64 rows of 3 ints per clip; IDENTICAL
    fingerprints collapse to one representative row BEFORE banding
    (exact re-upload mass stays linear) and the band join runs over
    DISTINCT fingerprints only with the BAND_BUCKET_CAP hub-star cap —
    no all-pairs anywhere, and no bucket's pair term can track
    cluster-density²."""
    from hello_flink_spark.operators.banded_dedup import min_rep_dedup

    return min_rep_dedup(
        _afp_sigs(spark, sf_dir),
        bands_per_word=AFP_BANDS,
        hamming_max=AFP_HAMMING_MAX,
    ).select("doc_id", "afp", "keep_doc_id")


def _afp_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, afp, sig) — decode + fingerprint stage, shared by the
    query and the sf1 probe's candidate-count accounting.

    r12 shape: the fixture-encode and WAV-decode generators are FUSED
    into one ``mapInPandas`` stage (the payload bytes never round-trip
    through the JVM — in a real corpus the payload is the input column
    and only the decode half runs), the decode emits one
    ``energies array<long>`` row per clip, and the 64-bit pack is a
    pure JVM projection over that array (``e·nf > Σe`` exact-integer
    sign bits, ``shiftleft`` pack with the same int64 two's-complement
    wrap as before) — no window, no shuffle anywhere before the
    exact-signature collapse in ``min_rep_dedup``."""
    from hello_flink_spark.operators.scale import spread_small_scan

    d = spread_small_scan(t(spark, sf_dir, "documents").select("doc_id"))
    frames = d.mapInPandas(
        lambda it: _afp_frame_energy(_afp_wav_encode(it)),
        schema="doc_id long, energies array<long>",
    )
    # TWO plan branches consume the fingerprints (the exact-collapse
    # groupBy and the final keep join) — materialize once so the
    # dominant decode Python stage runs once (same pattern as phash)
    fps = (
        frames.withColumn(
            "total", F.aggregate("energies", F.lit(0).cast("long"), lambda a, x: a + x)
        )
        .withColumn("nf", F.size("energies"))
        .select(
            "doc_id",
            F.expr(
                "aggregate(zip_with(energies, sequence(0, size(energies) - 1), "
                "(e, i) -> IF(e * nf > total, shiftleft(1L, CAST(i AS INT)), 0L)), "
                "0L, (acc, v) -> acc + v)"
            ).alias("afp"),
        )
        .localCheckpoint(eager=False)
    )
    return fps.withColumn("sig", F.array("afp"))


# ---------------------------------------------------------------------------
# Batch 13 — multimodal_video_dedup_framehash: the VIDEO near-dup tier.
# With this op the pillar's near-dup story spans ALL THREE modalities:
# image (multimodal_dedup_phash), audio (..._audio_dedup_fingerprint),
# video (here) — plus the ~15-op text dedup family. The standard video
# near-dup shape is FRAME-ALIGNED perceptual hashes (each frame hashed
# like an image; clip distance = total hamming over aligned frames) —
# re-encoded/re-uploaded clips match frame-for-frame after length
# normalization (which multimodal_frame_sample's stride pass provides).
# ---------------------------------------------------------------------------

# Clip-corpus closed form: every document carries a PNGV container of
# exactly 4 real 16x16 grayscale PNG frames whose 8x8 block patterns
# follow a per-(group, frame) closed form, with at most ONE flipped
# block in ONE frame per variant — so intra-group signature distance
# is <= 2 bits (measured max 2 over the full variant range) and
# cross-group distance is >= 93 of 256 bits; per-frame popcounts stay
# in 6..40 (never degenerate).
VDUP_GROUPS = 19
VDUP_VARIANTS = 9
VDUP_FRAMES = 4          # fixed-length clips: frame-aligned signatures
VDUP_MULT = 31337        # decorrelated from PHASH_*/AFP_* constants
VDUP_MOD = 103
VDUP_THRESH = 43
VDUP_IMG = 16            # 16x16 px frames, 2x2 blocks -> 64 bits/frame
VDUP_HAMMING_MAX = 2     # total across all frames
VDUP_BANDS = 4           # per frame -> 16 bands per clip signature;
                         # <= 2 flips damage <= 2, >= 14 shared: complete


def _vdup_bit(doc_id: int, k: int, b: int) -> bool:
    """Closed-form block bit for frame k, block b — the single source
    of truth shared by the encode stage and (transcribed) the oracle."""
    g, v = doc_id % VDUP_GROUPS, (doc_id // VDUP_GROUPS) % VDUP_VARIANTS
    pattern = ((g + 1) * (b + 3) * (k + 2) * VDUP_MULT) % VDUP_MOD < VDUP_THRESH
    flipped = (
        v != 0 and k == (v + g) % VDUP_FRAMES and b == (v * 17 + g) % 64
    )
    return pattern != flipped


def _vdup_encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched ENCODE stage: a REAL 4-frame PNGV clip per
    document (length-prefixed container of CRC'd zlib PNGs — the same
    format extras._video_encode_batches ships)."""
    import struct as _struct

    from hello_flink_spark.operators.png_codec import encode_png_gray

    def pix(d: int, k: int, x: int, y: int) -> int:
        return 255 if _vdup_bit(d, k, (y // 2) * 8 + (x // 2)) else 0

    for pdf in batches:
        payloads = []
        for d in pdf["doc_id"]:
            d = int(d)
            frames = [
                encode_png_gray(
                    VDUP_IMG,
                    VDUP_IMG,
                    lambda x, y, d=d, k=k: pix(d, k, x, y),
                    filter_type=(d + k) % 3,
                )
                for k in range(VDUP_FRAMES)
            ]
            payloads.append(
                b"PNGV"
                + _struct.pack(">I", VDUP_FRAMES)
                + b"".join(_struct.pack(">I", len(f)) + f for f in frames)
            )
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _vdup_frame_hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched 1→N DECODE + HASH stage: parse the container,
    decode EVERY frame for real (CRC, inflate, unfilter), and compute
    the GENERIC per-frame block-mean perceptual hash (the same average
    hash _phash_decode computes for still images) — one int64 per
    frame crosses the Arrow boundary, never pixels."""
    import numpy as np

    from hello_flink_spark.operators.imaging import avg_hash_64, iter_pngv_frames
    from hello_flink_spark.operators.png_codec import decode_png_gray

    cols = ["doc_id", "frame_idx", "fhash"]
    for pdf in batches:
        rows = []
        for d, blob in zip(pdf["doc_id"], pdf["payload"]):
            for k, frame in enumerate(iter_pngv_frames(bytes(blob))):
                w, h, px = decode_png_gray(frame)
                a = np.frombuffer(bytes(px), dtype=np.uint8).reshape(h, w)
                rows.append(
                    {"doc_id": int(d), "frame_idx": k, "fhash": avg_hash_64(a)}
                )
        yield pd.DataFrame(rows, columns=cols)


# The oracle regenerates every PIXEL of every frame from the closed
# form (x/y/k numbers CTEs), recomputes the per-frame average hash
# independently (block means vs frame mean, HUGEINT pack), and takes
# the textbook all-pairs FRAME-ALIGNED total-hamming neighborhoods —
# container, decoder, per-frame hash, alignment, and banding-
# completeness bugs all hash-fail.
_VDUP_ORACLE = f"""
WITH xs AS (SELECT CAST(range AS BIGINT) AS x FROM range(0, {VDUP_IMG})),
ys AS (SELECT CAST(range AS BIGINT) AS y FROM range(0, {VDUP_IMG})),
ks AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, {VDUP_FRAMES})),
px AS (
  SELECT d.doc_id, ks.k,
         (ys.y // 2) * 8 + (xs.x // 2) AS b,
         CASE WHEN (
             ((d.doc_id % {VDUP_GROUPS} + 1)
              * ((ys.y // 2) * 8 + (xs.x // 2) + 3)
              * (ks.k + 2) * {VDUP_MULT}) % {VDUP_MOD} < {VDUP_THRESH}
           ) != (
             (d.doc_id // {VDUP_GROUPS}) % {VDUP_VARIANTS} != 0
             AND ks.k = ((d.doc_id // {VDUP_GROUPS}) % {VDUP_VARIANTS}
                         + d.doc_id % {VDUP_GROUPS}) % {VDUP_FRAMES}
             AND (ys.y // 2) * 8 + (xs.x // 2) =
                 (((d.doc_id // {VDUP_GROUPS}) % {VDUP_VARIANTS}) * 17
                  + d.doc_id % {VDUP_GROUPS}) % 64
           ) THEN 255 ELSE 0 END AS pv
  FROM documents d, ks, xs, ys
),
fm AS (SELECT doc_id, k, AVG(pv) AS m FROM px GROUP BY doc_id, k),
blocks AS (SELECT doc_id, k, b, AVG(pv) AS bm FROM px GROUP BY doc_id, k, b),
fh AS (
  SELECT doc_id, k,
         CAST(CASE WHEN s >= 9223372036854775808
                   THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS fhash
  FROM (
    SELECT blocks.doc_id, blocks.k,
           SUM(CASE WHEN bm > m THEN CAST(1 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END
               * (CAST(1 AS HUGEINT) << CAST(b AS INTEGER))) AS s
    FROM blocks JOIN fm ON fm.doc_id = blocks.doc_id AND fm.k = blocks.k
    GROUP BY blocks.doc_id, blocks.k
  )
),
dists AS (
  SELECT a.doc_id AS da, o.doc_id AS db,
         SUM(bit_count(xor(a.fhash, o.fhash))) AS dist
  FROM fh a JOIN fh o ON o.k = a.k AND o.doc_id != a.doc_id
  GROUP BY a.doc_id, o.doc_id
),
nbrs AS (
  SELECT da AS doc_id, MIN(db) AS mn
  FROM dists WHERE dist <= {VDUP_HAMMING_MAX}
  GROUP BY da
),
sigs AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
         BIT_XOR(fhash) AS sig_xor
  FROM fh GROUP BY doc_id
)
SELECT s.doc_id, s.n_frames, s.sig_xor,
       CAST(LEAST(COALESCE(n.mn, s.doc_id), s.doc_id) AS BIGINT) AS keep_doc_id
FROM sigs s LEFT JOIN nbrs n ON n.doc_id = s.doc_id
"""


@register("multimodal_video_dedup_framehash", oracle=_VDUP_ORACLE)
def multimodal_video_dedup_framehash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-duplicate detection by frame-aligned perceptual
    hashes — completes the multimodal pillar's near-dup tier across
    ALL THREE modalities (image: ``multimodal_dedup_phash``; audio:
    ``multimodal_audio_dedup_fingerprint``; video: here): parse each
    document's real PNGV clip container, decode EVERY frame (CRC,
    inflate, unfilter — operators/png_codec.py), hash each frame with
    the same generic block-mean average hash the image tier uses, and
    call two clips near-dups when the TOTAL hamming distance over
    frame-aligned signatures is <= {VDUP_HAMMING_MAX} — the standard
    re-encode/re-upload video dedup shape (clips are length-normalized
    first in a real pipeline; ``multimodal_frame_sample``'s stride
    pass is that normalization here, and the fixture ships fixed
    4-frame clips).

    Candidate generation is banded like the whole dedup family — each
    (frame_idx, 16-bit band) is a bucket key, {VDUP_FRAMES}x
    {VDUP_BANDS} = 16 bands per clip, and <= 2 bit flips damage <= 2
    bands, so >= 14 shared buckets guarantee completeness (pigeonhole;
    no all-pairs anywhere). The clip signature rides the band join as
    a frame-ordered ``array<long>``, so the exact total-hamming verify
    is a ``zip_with``/``aggregate`` EXPRESSION on each candidate row —
    the r9 DISTINCT + frame-aligned verify join are gone, and
    duplicate candidates from multiple shared bands are harmless
    (min-aggregation is idempotent). Output is the linear-size
    per-clip row: frame count, order-independent signature XOR (scalar
    evidence of every frame hash, no array cells), and the
    representative keep_doc_id.

    Scale shape (r10, VERDICT r09 #1 — operators/banded_dedup.py):
    decode/hash is a 1→N explosion of one int64 per frame; IDENTICAL
    clip signatures collapse to one representative row BEFORE banding
    (exact re-upload mass stays linear) and the band join runs over
    DISTINCT signatures only on (frame_idx, band_idx, band_val) with
    the BAND_BUCKET_CAP hub-star cap — the candidate-pair term can no
    longer track cluster-density²."""
    from hello_flink_spark.operators.banded_dedup import min_rep_dedup

    return min_rep_dedup(
        _vdup_sigs(spark, sf_dir),
        bands_per_word=VDUP_BANDS,
        hamming_max=VDUP_HAMMING_MAX,
    ).select("doc_id", "n_frames", "sig_xor", "keep_doc_id")


def _vdup_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_frames, sig_xor, sig) — decode + per-clip signature
    stage, shared by the query and the sf1 probe's accounting. The
    narrow id feed is spread across cores first (r12): per-frame PNG
    decode is the tier's single heaviest Python stage and a small
    fixture scan arrives as one split."""
    from hello_flink_spark.operators.scale import spread_small_scan

    d = spread_small_scan(t(spark, sf_dir, "documents").select("doc_id"))
    payload = d.mapInPandas(_vdup_encode, schema="doc_id long, payload binary")
    # ONE plan branch consumes the frame hashes (the per-clip signature
    # aggregate below feeds everything downstream) — the decode Python
    # stage runs once by construction, no checkpoint needed here
    fh = payload.mapInPandas(
        _vdup_frame_hash, schema="doc_id long, frame_idx long, fhash long"
    )
    # TWO plan branches consume the per-clip signatures (the
    # exact-collapse groupBy and the final keep join) — materialize
    # once so the decode + aggregate pipeline runs once
    return (
        fh.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.expr("bit_xor(fhash)").alias("sig_xor"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("frame_idx", "fhash"))),
                lambda s: s["fhash"],
            ).alias("sig"),
        )
        .localCheckpoint(eager=False)
    )


# ---------------------------------------------------------------------------
# Batch 16 — text_bpe_pair_counts: the vocab-induction tier.
# BPE training's inner loop is "count adjacent symbol pairs, merge the
# most frequent" (Sennrich et al. 2016); the COUNTING pass is the
# data-scale part — one corpus sweep per merge — and exactly the query
# a tokenizer-fit job runs on Spark. This op is that first-iteration
# pair count (character bigrams within words, occurrence-weighted),
# top-20 with a total deterministic order.
# ---------------------------------------------------------------------------

BPE_TOP_K = 20
BPE_MAX_WORD = 64  # numbers-CTE bound for the oracle; fixture max word
                   # length is 8 (measured at sf0.01/sf0.1)

# The BPE fit's single source of truth, shared by the pair-count sweep
# (batch 16) and the encode pass (batch 17) on BOTH engines: change the
# tokenization rule or the pair transform HERE and nowhere else.
_BPE_WORDS_SQL = """words_raw AS (
      SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS w
      FROM documents
    ),
    words_f AS (SELECT source, w FROM words_raw WHERE length(w) >= 1)"""


def _bpe_pairs_sql(k: int) -> str:
    """The fit sweep's mc/merges CTE pair, parameterized by table size
    (expects ``words_f`` in scope via _BPE_WORDS_SQL)."""
    return f"""ns AS (SELECT CAST(range AS BIGINT) + 1 AS i FROM range(0, {BPE_MAX_WORD})),
    mc AS (
      SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, COUNT(*) AS cnt
      FROM words_f JOIN ns ON ns.i < length(w)
      GROUP BY pair ORDER BY cnt DESC, pair LIMIT {k}
    )"""


def _bpe_words(d: DataFrame) -> DataFrame:
    """(source, w) word occurrences — the one tokenization rule."""
    return d.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    ).filter(F.length("w") >= 1)


def _bpe_top_pairs(words: DataFrame, k: int) -> DataFrame:
    """Top-k in-word character bigrams by (count DESC, pair ASC) — the
    fit sweep (one corpus pass per BPE merge iteration)."""
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(k)
    )


@register(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH {_BPE_WORDS_SQL},
    {_bpe_pairs_sql(BPE_TOP_K)}
    SELECT pair, CAST(cnt AS BIGINT) AS cnt FROM mc
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE pair counting — the data-scale inner loop of tokenizer
    training (Sennrich et al. 2016: byte-pair encoding merges the most
    frequent adjacent symbol pair per iteration; each iteration is one
    corpus-wide pair count): character bigrams within whitespace words,
    occurrence-weighted, top-{BPE_TOP_K} by (count DESC, pair ASC) —
    the total order makes the LIMIT deterministic on both engines.

    Scale shape: scan → explode words → explode in-word bigrams (all
    JVM-side: ``transform(sequence(...))`` + substring, no Python) →
    hash aggregate with map-side partials → TakeOrderedAndProject
    (top-k per partition, k-merge on the driver — never a global
    sort). The pair key space is tiny (alphabet²), so the aggregate
    output is bounded regardless of corpus size — the same one-sweep
    shape a real BPE fit runs once per merge."""
    return _bpe_top_pairs(_bpe_words(t(spark, sf_dir, "documents")), BPE_TOP_K)


# ---------------------------------------------------------------------------
# Batch 14 — pipeline_multimodal_manifest: the multimodal CAPSTONE.
# The text capstones (pipeline_training_corpus v1/v2/v3) compose the
# text family's gates into the one query a corpus curator runs; this
# is the same shape for the MULTIMODAL corpus: every document carries
# image + audio + video payloads plus text, and the manifest applies
# one quality gate per modality — brightness band (image), minimum
# duration (audio), scene-cut cap (video, over-cutty = corrupt), and
# the composite text-quality threshold — emitting per-modality
# verdicts and the final keep flag a downstream trainer consumes.
# ---------------------------------------------------------------------------

MAN_Q_MIN = 0.55        # text: composite quality gate (~28% drop at sf0.01)
MAN_CUTS_MAX = 2        # video: > 2 hard cuts = corrupt/over-segmented clip
MAN_AUDIO_MIN_N = 320   # audio: >= 40 ms at 8 kHz (drops doc_id % 7 == 0)

# the text-quality composite's single source of truth (extras.py)
from hello_flink_spark.queries.extras import (  # noqa: E402
    TQ_SQL_NWORDS,
    TQ_SQL_QUALITY,
)


def _manifest_moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """ONE fused Arrow stage for all three binary modalities: reuses
    the pillar's proven encode/decode batch generators (they are pure
    pandas functions) to decode each document's PNG, WAV, and PNGV
    payloads for real, reduces the video frame means to a cut count
    (exact-integer means divided as float64 — the same IEEE double
    DuckDB computes), and emits one row of integer moments per
    document with the text passed through — so the whole manifest is
    a single Python stage with ZERO shuffles."""
    from hello_flink_spark.queries.extras import _video_encode_batches
    from hello_flink_spark.queries.llm import _png_encode_batches

    cols = [
        "doc_id", "text", "img_n_px", "img_lum_sum",
        "aud_n", "aud_sq", "vid_frames", "vid_cuts",
    ]
    for pdf in batches:
        ids = pdf[["doc_id"]]
        img = pd.concat(list(_lum_moment_batches(_png_encode_batches(iter([ids])))))
        aud = pd.concat(list(_audio_stats_batches(_wav_encode_batches(iter([ids])))))
        vid = pd.concat(list(_frame_moment_batches(_video_encode_batches(iter([ids])))))
        vid = vid.sort_values(["doc_id", "frame_idx"]).reset_index(drop=True)
        vid["mean_lum"] = vid["f_sum"] / vid["n_px"]
        vid["delta"] = vid.groupby("doc_id")["mean_lum"].diff().abs()
        vstats = vid.groupby("doc_id").agg(
            vid_frames=("frame_idx", "size"),
            vid_cuts=("delta", lambda s: int((s > SCENE_CUT_DELTA).sum())),
        ).reset_index()
        out = (
            pdf[["doc_id", "text"]]
            .merge(
                img.rename(columns={"n_px": "img_n_px", "lum_sum": "img_lum_sum"})[
                    ["doc_id", "img_n_px", "img_lum_sum"]
                ],
                on="doc_id",
            )
            .merge(
                aud.rename(columns={"n_samples": "aud_n", "sq_sum": "aud_sq"})[
                    ["doc_id", "aud_n", "aud_sq"]
                ],
                on="doc_id",
            )
            .merge(vstats, on="doc_id")
        )
        yield out[cols]


_MANIFEST_ORACLE = f"""
WITH xs AS (SELECT CAST(range AS BIGINT) AS x FROM range(0, 16)),
ys AS (SELECT CAST(range AS BIGINT) AS y FROM range(0, 16)),
ks AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 9)),
ns AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, {AUDIO_N_MAX})),
ipx AS (
  SELECT d.doc_id, (d.doc_id + 31 * xs.x + 17 * ys.y) % 256 AS pv
  FROM documents d
  JOIN xs ON xs.x <= d.doc_id % 16
  JOIN ys ON ys.y <= (d.doc_id * 7) % 16
),
img AS (
  SELECT doc_id, COUNT(*) AS n_px, SUM(pv) AS lum_sum FROM ipx GROUP BY doc_id
),
samp AS (
  SELECT d.doc_id, {AUDIO_V_SQL.replace('doc_id', 'd.doc_id').replace('(i ', '(ns.i ')} AS v
  FROM documents d JOIN ns ON ns.i < {AUDIO_N_SQL.replace('doc_id', 'd.doc_id')}
),
aud AS (
  SELECT doc_id, COUNT(*) AS n, SUM(v * v) AS sq FROM samp GROUP BY doc_id
),
vframes AS (
  SELECT d.doc_id, ks.k,
         SUM((d.doc_id + 31 * xs.x + 17 * ys.y + 97 * ks.k) % 256)
           / CAST((d.doc_id % 8 + 1) * ((d.doc_id * 3) % 8 + 1) AS DOUBLE)
           AS mean_lum
  FROM documents d
  JOIN ks ON ks.k < d.doc_id % 8 + 2
  JOIN xs ON xs.x < d.doc_id % 8 + 1
  JOIN ys ON ys.y < (d.doc_id * 3) % 8 + 1
  GROUP BY d.doc_id, ks.k
),
vdeltas AS (
  SELECT doc_id,
         ABS(mean_lum - LAG(mean_lum) OVER (PARTITION BY doc_id ORDER BY k))
           AS delta
  FROM vframes
),
vid AS (
  SELECT doc_id, COUNT(*) + 1 AS n_frames,
         SUM(CASE WHEN delta > {SCENE_CUT_DELTA} THEN 1 ELSE 0 END) AS n_cuts
  FROM vdeltas WHERE delta IS NOT NULL GROUP BY doc_id
),
txt AS (
  SELECT doc_id, {TQ_SQL_NWORDS} AS n_words, {TQ_SQL_QUALITY} AS quality
  FROM documents
)
SELECT img.doc_id,
       ROUND(CAST(img.lum_sum AS DOUBLE) / img.n_px, 6) AS mean_lum,
       CAST(CASE WHEN CAST(img.lum_sum AS DOUBLE) / img.n_px
                  BETWEEN {LUM_KEEP_MIN} AND {LUM_KEEP_MAX}
             THEN 1 ELSE 0 END AS BIGINT) AS img_keep,
       ROUND(CAST(aud.n AS DOUBLE) * 1000 / {AUDIO_RATE}, 3) AS duration_ms,
       ROUND(SQRT(CAST(aud.sq AS DOUBLE) / aud.n), 6) AS rms,
       CAST(CASE WHEN aud.n >= {MAN_AUDIO_MIN_N} THEN 1 ELSE 0 END AS BIGINT)
         AS audio_keep,
       CAST(vid.n_frames AS BIGINT) AS n_frames,
       CAST(vid.n_cuts AS BIGINT) AS n_cuts,
       CAST(CASE WHEN vid.n_cuts <= {MAN_CUTS_MAX} THEN 1 ELSE 0 END AS BIGINT)
         AS video_keep,
       CAST(txt.n_words AS BIGINT) AS n_words,
       ROUND(txt.quality, 6) AS quality,
       CAST(CASE WHEN txt.quality >= {MAN_Q_MIN} THEN 1 ELSE 0 END AS BIGINT)
         AS text_keep,
       CAST(CASE WHEN CAST(img.lum_sum AS DOUBLE) / img.n_px
                      BETWEEN {LUM_KEEP_MIN} AND {LUM_KEEP_MAX}
                  AND aud.n >= {MAN_AUDIO_MIN_N}
                  AND vid.n_cuts <= {MAN_CUTS_MAX}
                  AND txt.quality >= {MAN_Q_MIN}
             THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM img
JOIN aud ON aud.doc_id = img.doc_id
JOIN vid ON vid.doc_id = img.doc_id
JOIN txt ON txt.doc_id = img.doc_id
"""


@register("pipeline_multimodal_manifest", oracle=_MANIFEST_ORACLE)
def pipeline_multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL training-manifest capstone — the one query a
    multimodal-corpus curator runs, composing the pillar's quality
    gates across every modality the mandate names: decode each
    document's image (PNG), audio (WAV), and video (PNGV) payloads
    FOR REAL inside one fused Arrow stage, score the text column
    JVM-side with the ``text_quality_score`` composite, and emit the
    per-document manifest row: per-modality metrics, per-modality
    keep verdicts (brightness band / minimum duration / scene-cut
    cap / quality threshold — every verdict class non-vacuous at
    sf0.01: image 486/14, audio 428/72, video 454/46, text ~72/28%),
    and the final conjunction ``keep`` a downstream trainer consumes.

    Scale shape: ONE mapInPandas stage decodes all three payloads per
    document (reusing the pillar's proven batch generators — pure
    pandas functions — so the manifest adds no new codec code) and
    ships only integer moments + the passed-through text; every gate,
    ratio, and float comparison is JVM-side from the same exact
    integers the oracle aggregates. ZERO shuffles end-to-end — the
    plan is scan → Python stage → project, embarrassingly parallel
    per input partition at any corpus size (the narrow feed is spread
    across cores first when the scan arrives under-split — r12,
    operators/scale.py spread_small_scan)."""
    from hello_flink_spark.operators.scale import spread_small_scan

    d = spread_small_scan(t(spark, sf_dir, "documents").select("doc_id", "text"))
    mom = d.mapInPandas(
        _manifest_moments,
        schema=(
            "doc_id long, text string, img_n_px long, img_lum_sum long, "
            "aud_n long, aud_sq long, vid_frames long, vid_cuts long"
        ),
    )
    from hello_flink_spark.queries.extras import text_quality_columns

    mean_lum = F.col("img_lum_sum").cast("double") / F.col("img_n_px")
    img_keep = (mean_lum >= LUM_KEEP_MIN) & (mean_lum <= LUM_KEEP_MAX)
    audio_keep = F.col("aud_n") >= MAN_AUDIO_MIN_N
    video_keep = F.col("vid_cuts") <= MAN_CUTS_MAX
    _, n_words, _, _, quality = text_quality_columns()
    text_keep = quality >= MAN_Q_MIN
    as_flag = lambda c: c.cast("int").cast("long")  # noqa: E731
    return mom.select(
        "doc_id",
        F.round(mean_lum, 6).alias("mean_lum"),
        as_flag(img_keep).alias("img_keep"),
        F.round(F.col("aud_n").cast("double") * 1000 / AUDIO_RATE, 3).alias(
            "duration_ms"
        ),
        F.round(F.sqrt(F.col("aud_sq").cast("double") / F.col("aud_n")), 6).alias(
            "rms"
        ),
        as_flag(audio_keep).alias("audio_keep"),
        F.col("vid_frames").alias("n_frames"),
        F.col("vid_cuts").alias("n_cuts"),
        as_flag(video_keep).alias("video_keep"),
        n_words.cast("long").alias("n_words"),
        F.round(quality, 6).alias("quality"),
        as_flag(text_keep).alias("text_keep"),
        as_flag(img_keep & audio_keep & video_keep & text_keep).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Batch 17 — text_bpe_apply: the tokenizer ENCODE pass. Batch 16 counts
# pairs (the fit loop's data-scale half); this op APPLIES the learned
# merge table to the corpus — the pass a training pipeline runs over
# every document once the tokenizer is fit, and the one that prices
# "how many tokens is this corpus".
# ---------------------------------------------------------------------------

BPE_APPLY_K = 12  # merge-table size: top-K first-iteration pairs


@register(
    "text_bpe_apply",
    oracle=f"""
    WITH RECURSIVE {_BPE_WORDS_SQL},
    {_bpe_pairs_sql(BPE_APPLY_K)},
    merges AS (
      SELECT pair, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS r FROM mc
    ),
    steps AS (
      SELECT source, w, w AS cur, 0 AS r FROM words_f
      UNION ALL
      SELECT s.source, s.w, replace(s.cur, m.pair, chr(1) || chr(1)), s.r + 1
      FROM steps s JOIN merges m ON m.r = s.r + 1
    ),
    fin AS (
      SELECT source, w, cur FROM steps
      WHERE r = (SELECT COUNT(*) FROM merges)
    ),
    per AS (
      SELECT source, length(w) AS nch,
             length(w) - CAST(
               (length(cur) - length(replace(cur, chr(1), ''))) // 2 AS BIGINT
             ) AS ntok
      FROM fin
    )
    SELECT source, COUNT(*) AS n_words,
           CAST(SUM(nch) AS BIGINT) AS n_chars,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(nch) AS DOUBLE) / SUM(ntok), 6) AS compression
    FROM per GROUP BY source
    """,
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE over the corpus — apply the fit merge table (the
    top-{BPE_APPLY_K} first-iteration pairs, ranked (count DESC, pair
    ASC) by the `text_bpe_pair_counts` sweep) to every word and price
    the corpus in tokens per source (Sennrich et al. 2016 §3:
    ``apply_bpe`` replays learned merges in rank order).

    The fold is CLOSED-FORM on both engines because first-iteration
    merge pairs reference single CHARACTERS only: a merged (2-char)
    token can never re-match a later pair, so true BPE — repeatedly
    merge the best-rank pair present, leftmost-first, non-overlapping
    — reduces to one ``replace`` pass per rank with merged chars
    masked to ``chr(1)`` (masked chars match no alphabet pair, and two
    single-char tokens are adjacent iff their chars are string-adjacent
    in the masked word, since any masked gap IS an intervening token).
    ``replace``'s left-to-right non-overlapping scan on both engines is
    exactly the greedy leftmost merge; equivalence to the token-list
    algorithm is pinned against a pure-Python BPE reference in
    tests/test_llm.py. n_tokens = n_chars − n_merges (each merge fuses
    two tokens); the corpus is assumed chr(1)-free (plain-text fixture).

    Scale shape: the merge table is fit with the batch-16 one-sweep
    shape (explode → bounded hash agg → top-K) and rides as ONE
    broadcast 12-element array; the encode pass is scan → explode
    words → JVM ``aggregate`` lambda fold (whole-stage codegen, no
    Python) → per-source hash agg with map-side partials. ONE data-
    scale shuffle (the tiny per-source partials); at 100 TB the encode
    is embarrassingly parallel per input split."""
    # r17 (guide §2.3 "aggregate before you shuffle" / §1.2 per-task
    # work): the 12-merge replace fold ran once per word OCCURRENCE and
    # the fit sweep exploded character pairs per occurrence; a Zipf
    # corpus repeats words heavily, so both passes now run at DISTINCT
    # (source, word) scale — one instance-scale shuffle builds the
    # weighted vocab (wn = occurrences), the fit weights pair counts by
    # wn (identical integer counts, identical top-K order), the fold
    # runs once per distinct word, and the per-source sums weight each
    # word's exact integer contributions by wn (sums of ints reordered —
    # bit-identical; the one double division happens after, unchanged).
    # Two consumers (fit + encode): materialize the vocab up front
    # (lazy checkpoint — concurrent first-job consumers may race the
    # persist and recompute a bounded suffix; results unaffected).
    wc = (
        _bpe_words(t(spark, sf_dir, "documents"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("wn"))
        .localCheckpoint(eager=False)
    )
    top = (
        wc.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair"),
            "wn",
        )
        .groupBy("pair")
        .agg(F.sum("wn").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(BPE_APPLY_K)
    )
    # rank-ordered merge array: struct sort on (-cnt, pair) == the
    # oracle's ROW_NUMBER order; {BPE_APPLY_K} elements — broadcast-bounded
    marr = top.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(-cnt AS nc, pair))),"
            " s -> s.pair)"
        ).alias("ms")
    )
    folded = wc.crossJoin(F.broadcast(marr)).withColumn(
        "cur",
        F.expr("aggregate(ms, w, (acc, p) -> replace(acc, p, concat(chr(1), chr(1))))"),
    )
    per = folded.select(
        "source",
        "wn",
        F.length("w").alias("nch"),
        (
            F.length("w")
            - (
                (F.length("cur") - F.length(F.expr("replace(cur, chr(1), '')")))
                / F.lit(2)
            ).cast("long")
        ).alias("ntok"),
    )
    return per.groupBy("source").agg(
        F.sum("wn").alias("n_words"),
        F.sum(F.col("nch") * F.col("wn")).alias("n_chars"),
        F.sum(F.col("ntok") * F.col("wn")).alias("n_tokens"),
        F.round(
            F.sum(F.col("nch") * F.col("wn")).cast("double")
            / F.sum(F.col("ntok") * F.col("wn")),
            6,
        ).alias("compression"),
    )


# ---------------------------------------------------------------------------
# Batch 17 — data_mixture_temperature: α-temperature LANGUAGE resampling.
# data_mixture_balanced caps every source at a fixed per-source quota;
# the OTHER standard mixture shape (mT5/XLM-R style) reweights LANGUAGE
# shares to p^α — rare languages up-weighted, dominant ones damped
# (the fixture's lang column is genuinely skewed, en ≈ 3.4× fr, so
# every verdict class is non-vacuous; source is uniform by design).
# ---------------------------------------------------------------------------

MIX_TEMP_SALT = "mix:"  # hash salt: decouples the draw from other samplers


@register(
    "data_mixture_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ),
    nm AS (SELECT MIN(n_docs) AS n_min FROM counts),
    rates AS (
      SELECT lang, n_docs,
             SQRT(CAST(n_min AS DOUBLE) / n_docs) AS keep_rate
      FROM counts, nm
    ),
    flagged AS (
      SELECT d.lang, r.n_docs, r.keep_rate,
             CASE WHEN CAST(('0x' || substr(
                      md5('{MIX_TEMP_SALT}' || CAST(d.doc_id AS VARCHAR)), 1, 8
                    )) AS BIGINT) / 4294967296.0 < r.keep_rate
                  THEN 1 ELSE 0 END AS kept
      FROM documents d JOIN rates r USING (lang)
    ),
    agg AS (
      SELECT lang, COUNT(*) AS n_docs, SUM(kept) AS n_kept,
             ROUND(MAX(keep_rate), 6) AS target_rate
      FROM flagged GROUP BY lang
    )
    SELECT lang, n_docs, CAST(n_kept AS BIGINT) AS n_kept, target_rate,
           ROUND(CAST(n_kept AS DOUBLE) / n_docs, 6) AS realized_rate,
           ROUND(CAST(n_kept AS DOUBLE) / SUM(n_kept) OVER (), 6) AS mixture_share
    FROM agg
    """,
)
def data_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-based mixture resampling (α = 0.5) — the standard
    multi-source rebalancing a multilingual training run applies
    (mT5, Xue et al. 2021 §3.2; XLM-R): language shares p_l are
    flattened to q_l ∝ p_l^α so dominant languages are damped and rare
    ones kept whole. Downsample-only realization: keeping relative
    α-shares exact without replication means the SMALLEST language
    keeps 100% and language l keeps n'_l ∝ q_l, which collapses
    to the closed form keep_rate(s) = (n_min/n_s)^(1−α) = √(n_min/n_s)
    — two exact integers in, one correctly-rounded divide + sqrt, so
    the threshold is bit-identical on both engines (no Σp^α sum whose
    addition ORDER could flip a ULP). Membership is the deterministic
    md5-prefix draw (`sample_deterministic_hash` / bloom-filter
    precedent): u = hash32/2^32 < keep_rate — reproducible at any
    scale, diff-able across runs, salt-decoupled from other samplers.

    Output per language: before/after counts, the target rate, the
    realized rate (binomial-close to target), and the post-resample
    mixture share a curator audits.

    Scale shape: per-language counts = ONE tiny hash agg (map-side
    partials); rates ride back as a broadcast join (≤ |langs| rows,
    bound stated in tests/test_plans.py); the keep decision is one
    JVM md5+conv per row inside codegen; final per-language agg is the
    same tiny shuffle. No sort, no data-scale exchange beyond the two
    bounded aggs."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    nmin = counts.agg(F.min("n_docs").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "lang",
        "n_docs",
        F.sqrt(F.col("n_min").cast("double") / F.col("n_docs")).alias("keep_rate"),
    )
    # the portable md5-prefix u32 draw (sample_deterministic_hash /
    # bloom-prefilter precedent), built from structured functions — no
    # salt string-splicing into an expr
    u01 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(MIX_TEMP_SALT), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long") / F.lit(4294967296.0)
    flagged = d.select("doc_id", "lang").join(F.broadcast(rates), "lang").select(
        "lang",
        "n_docs",
        "keep_rate",
        (u01 < F.col("keep_rate")).cast("int").alias("kept"),
    )
    agg = flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        F.round(F.max("keep_rate"), 6).alias("target_rate"),
    )
    tot = agg.agg(F.sum("n_kept").alias("tot_kept"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_kept",
        "target_rate",
        F.round(F.col("n_kept").cast("double") / F.col("n_docs"), 6).alias(
            "realized_rate"
        ),
        F.round(F.col("n_kept").cast("double") / F.col("tot_kept"), 6).alias(
            "mixture_share"
        ),
    )


# ---------------------------------------------------------------------------
# Batch 18 — text_bpe_train_merges: the FULL tokenizer-fit loop.
# Batch 16 is one fit iteration's pair count; batch 17 applies a fit
# table; this op runs the actual multi-iteration trainer (Sennrich et
# al. 2016 Algorithm 1): count pairs over CURRENT token sequences,
# merge the most frequent, repeat — each iteration re-counting over
# the merged corpus, which is what makes it a loop and not one sweep.
# ---------------------------------------------------------------------------

BPE_TRAIN_ITERS = 8  # merge iterations (vocab budget)
BPE_TRAIN_MAX_VOCAB = 5_000_000  # distinct-word bound for the fused
# single-task trainer (ADVICE r17): the merge loop runs over the
# DISTINCT-word histogram inside one Python worker, so its state is
# vocab-scale by contract — Zipf-bounded, NOT corpus-scale. 5 M
# distinct words (~hundreds of MB of token lists) is far above any
# natural-language vocabulary; a corpus that exceeds it (adversarial
# unique-token streams) fails loudly here instead of OOMing the
# worker silently.


@register("text_bpe_train_merges", tags=("iterative", "rows_only"))
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL BPE trainer (Sennrich et al. 2016 Algorithm 1) as a
    Spark loop — learn {BPE_TRAIN_ITERS} merges over the corpus word
    HISTOGRAM: each iteration counts adjacent TOKEN pairs (occurrence-
    weighted), merges the single most frequent (count DESC, pair ASC —
    a total order, so the trainer is deterministic), and re-tokenizes.
    Unlike the one-sweep batch-16 count, later iterations see MERGED
    tokens, so pairs like ('ta','ble') become countable — the loop is
    the algorithm. R-tier: the emitted merge table is pinned by EXACT
    equality against a pure-Python textbook trainer in
    tests/test_llm.py (plus rank-1 must equal text_bpe_pair_counts'
    top pair — the two ops share the fit's first step by definition).

    Scale shape (round-17 optimization, guide §1.2/§4.2): the corpus
    collapses ONCE to the (word, count) histogram — vocabulary-sized,
    Zipf-bounded far below corpus size at 100 TB, and ALREADY
    single-partition in the pre-r17 plan (coalesce(1): the fold is a
    sequential fixed point either way) — then the ENTIRE merge loop
    runs inside ONE Arrow-batched stage over that histogram
    (mapInPandas, heavyweight state constructed once per task). The
    pre-r17 loop ran the same single-partition computation as 17
    driver-blocking jobs (8 argmax collects + 8 eager checkpoints +
    the seed scan: measured 4.11 s at sf0.1, ~0.24 s/job of pure
    scheduling for vocab-scale work); fusing the loop into the stage
    removes every per-iteration job launch, createDataFrame and
    checkpoint while keeping the corpus-scale histogram aggregation
    distributed with map-side partials (min-of-5 0.43 s, merge table
    byte-identical — the exact-equality pin below is the proof).
    Driver state drops from one argmax row per iteration to nothing
    (the merge table arrives as the stage's output)."""
    words = _bpe_words(t(spark, sf_dir, "documents"))
    hist = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))

    def train(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = {}
        for pdf in batches:
            for w, c in zip(pdf["w"], pdf["cnt"]):
                counts[w] = counts.get(w, 0) + int(c)
            if len(counts) > BPE_TRAIN_MAX_VOCAB:
                raise ValueError(
                    f"BPE trainer vocabulary exceeded the "
                    f"{BPE_TRAIN_MAX_VOCAB}-word single-task bound "
                    f"({len(counts)} distinct words) — the fused merge "
                    f"loop's state contract is vocab-scale, not "
                    f"corpus-scale"
                )
        vocab = [(list(w), c) for w, c in counts.items()]
        merges: list[tuple[int, str, str, str, int]] = []
        for it in range(1, BPE_TRAIN_ITERS + 1):
            freq: dict[tuple[str, str], int] = {}
            for toks, c in vocab:
                for pair in zip(toks, toks[1:]):
                    freq[pair] = freq.get(pair, 0) + c
            if not freq:
                break
            # argmax by (count DESC, pair ASC) — the same total order
            # the old orderBy(freq DESC, a, b).limit(1) pinned
            (a, b), f = min(freq.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((it, a, b, a + b, f))
            ab = a + b
            nxt = []
            for toks, c in vocab:
                out: list[str] = []
                i, nt = 0, len(toks)
                # leftmost non-overlapping greedy merge (textbook)
                while i < nt:
                    if i + 1 < nt and toks[i] == a and toks[i + 1] == b:
                        out.append(ab)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                nxt.append((out, c))
            vocab = nxt
        yield pd.DataFrame(
            {
                "rank": pd.Series([m[0] for m in merges], dtype="int64"),
                "left": pd.Series([m[1] for m in merges], dtype="object"),
                "right": pd.Series([m[2] for m in merges], dtype="object"),
                "merged": pd.Series([m[3] for m in merges], dtype="object"),
                "freq": pd.Series([m[4] for m in merges], dtype="int64"),
            }
        )

    return hist.coalesce(1).mapInPandas(
        train, "rank long, left string, right string, merged string, freq long"
    )


# ---------------------------------------------------------------------------
# Batch 19 — docs_shuffle_shard: the corpus SHUFFLE+SHARD pass — the
# last thing a training pipeline does before writing training files:
# a deterministic global shuffle (hash order, not RNG — reproducible
# at any scale, diff-able across runs) and the shard assignment that
# becomes the partitioned write layout.
# ---------------------------------------------------------------------------

SHARD_N = 8               # training-file shard count
SHARD_SALT = "shuf:"      # decouples the permutation from other draws


@register(
    "docs_shuffle_shard",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             md5('{SHARD_SALT}' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, n_chars,
             CAST(CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % {SHARD_N}
                  AS BIGINT) AS shard,
             ROW_NUMBER() OVER (
               PARTITION BY CAST(('0x' || substr(hx, 1, 8)) AS BIGINT)
                            % {SHARD_N}
               ORDER BY hx, doc_id
             ) AS pos
      FROM h
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           MIN(CASE WHEN pos = 1 THEN doc_id END) AS first_doc,
           MAX(CASE WHEN pos = 1 THEN doc_id END) AS first_doc_check,
           CAST(SUM(pos * doc_id) AS BIGINT) AS order_sig
    FROM assigned GROUP BY shard
    """,
)
def docs_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus SHUFFLE + SHARD — the pass that turns a
    curated corpus into training files: every document is assigned a
    shard by a salted content hash and ORDERED within its shard by the
    same hash, giving a reproducible global permutation (hash order is
    the standard RNG-free shuffle: re-runs and engines agree bit-for-
    bit, and adding documents never reorders the survivors relative to
    each other — diff-able corpus refreshes). The emitted report is
    the shard manifest a trainer consumes: per-shard doc/char counts,
    the first document, and an order-sensitive signature Σ(pos ×
    doc_id) that hash-fails if EITHER the assignment or the intra-
    shard permutation drifts (the count columns alone would pass under
    a wrong order).

    Scale shape: one md5 per row inside codegen; the shard rank is ONE
    keyed window over the {SHARD_N}-partition hash key (each shard
    sorts independently — no global sort; at 100 TB this is exactly
    the repartition(shard).sortWithinPartitions write layout, and the
    WindowGroupLimit-free full rank is the manifest's requirement, not
    a top-k); final manifest = one tiny per-shard agg.

    Write-layout rule (pinned by the round-trip test in
    tests/test_llm.py): the sortWithinPartitions key must LEAD with
    the partition column — ``(shard, hx, doc_id)`` — because the file
    writer requires rows grouped by partition value and inserts its
    own NON-STABLE sort when they are not, which would destroy the
    hash permutation inside the written files."""
    d = t(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.lit(SHARD_SALT), F.col("doc_id").cast("string")))
    h32 = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    assigned = d.select(
        "doc_id",
        "n_chars",
        hx.alias("hx"),
        (h32 % SHARD_N).alias("shard"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    ranked = assigned.withColumn("pos", F.row_number().over(w))
    return ranked.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.min(F.when(F.col("pos") == 1, F.col("doc_id"))).alias("first_doc"),
        F.max(F.when(F.col("pos") == 1, F.col("doc_id"))).alias(
            "first_doc_check"
        ),
        F.sum(F.col("pos") * F.col("doc_id")).alias("order_sig"),
    )
