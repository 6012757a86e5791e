"""Capped hamming-band near-dup machinery shared by the multimodal
dedup tier (image phash / audio fingerprint / video framehash).

VERDICT r09 "Next round" #1: the r9 band self-joins were complete and
correct but carried an O(c²) candidate term in c = docs per band
bucket — on a duplicate-dense 100 TB corpus (exact re-uploads are the
DOMINANT dup mass) one hot bucket quadratically explodes. Two fixes,
both semantics-preserving for the min-representative output the tier
materializes:

1. **Exact collapse first.** Identical signatures are grouped to one
   representative row (``min(doc_id)`` + implicit count) BEFORE any
   banding, so exact re-upload mass is strictly linear: a million
   byte-identical uploads contribute ONE row to the band join. This
   loses nothing — every doc sharing signature ``s`` has exactly the
   same hamming neighborhood, hence the same ``keep_doc_id``
   (min doc over the neighborhood *including self*, and "self" enters
   through the collapsed group's own min).

2. **Per-band-bucket frequency cap** (the ``SHINGLE_DF_CAP`` /
   ``FP_BUCKET_CAP`` pattern, llm.py:84 / extras.py:434): a bucket
   with more than ``BAND_BUCKET_CAP`` *distinct* signatures switches
   from all-pairs to **representative chaining** — every member pairs
   only with the bucket's hub (its min-rep member), in both
   directions, so an over-full bucket of c distinct signatures emits
   2(c-1) candidates instead of c(c-1). Members within
   ``hamming_max`` of the hub still collapse to the hub's
   representative (the dense re-encode cluster case the cap exists
   for); member↔member pairs that verify only through a capped bucket
   and share no other band are the documented recall trade — the same
   trade the df-capped shingle tier makes, and one the fixture never
   exercises (its max bucket is far below the cap, so the driver
   oracle is unchanged).

Candidate verification is an EXPRESSION, not a join: signatures are
``array<long>`` words carried through the band join, and the exact
distance is ``aggregate(zip_with(a, b, bit_count∘xor))`` — so
duplicate candidates from multiple shared bands are harmless
(min-aggregation is idempotent) and the r9 video tier's extra
DISTINCT + frame-aligned verify join disappear entirely.

Small inputs skip the Spark plan. ``min_rep_dedup`` probes the
signature frame with a LIMIT-bounded collect (the bounded-broadcast
protocol of ``scale.anti_join_bounded``): a frame of at most
``scale.HOT_BROADCAST_MAX`` rows (every multimodal tier of the test bed has
500) runs the same collapse, banding, cap and verify on the driver, so
the build waits for the probe, not for the collapse and hot-list
checkpoints, and the result is a local frame. A larger frame runs the
Spark plan below.
"""

from __future__ import annotations

import logging
from collections import defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from hello_flink_spark.operators import scale

logger = logging.getLogger(__name__)

BAND_BUCKET_CAP = 32  # distinct signatures per (word, band, value)
# bucket before the bucket switches to hub chaining. Fixture maxima
# (closed-form, sf-independent): phash 9, afp 9, vdup 18 distinct
# sigs — pinned in tests/test_scale.py, so driver results are
# unchanged by the cap.

# Observability for the documented recall trade (ADVICE r10): hub-star
# chaining silently drops member↔member pairs that verify only through
# a capped bucket — runs need a SIGNAL when that trade actually
# engaged. ``banded_candidates`` counts the over-cap buckets it is
# about to chain (the ``hot`` frame is materialized anyway for the
# bounded-broadcast probe, so the exact count is free) and records it
# here, mirroring the sf1 probe's candidate accounting. Driver-side,
# single-writer per run — read it right after the action completes.
LAST_BAND_METRICS: dict[str, int] = {"capped_buckets": 0}


def _record_capped(n_hot: int, cap: int) -> None:
    """Publish the over-cap bucket count, and warn when hub-star
    chaining engaged (the same signal on the driver and Spark paths)."""
    LAST_BAND_METRICS["capped_buckets"] = n_hot
    if n_hot:
        logger.warning(
            "banded_candidates: %d band bucket(s) over cap=%d switched to "
            "hub-star chaining — member-to-member pairs verifying only "
            "through those buckets are dropped (documented recall trade)",
            n_hot,
            cap,
        )


def hamming_dist(a: Column | str, b: Column | str) -> Column:
    """Exact hamming distance between two ``array<long>`` signatures,
    summed over aligned words — pure expression, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def banded_candidates(
    reps: DataFrame,
    *,
    bands_per_word: int = 4,
    bits_per_band: int = 16,
    cap: int = BAND_BUCKET_CAP,
) -> DataFrame:
    """Directed candidate pairs between DISTINCT signatures.

    ``reps``: one row per distinct signature — ``(rep_id long,
    sig array<long>)``. Returns ``(rep_id, sig, nb_id, nb_sig)``.

    Buckets with <= ``cap`` members emit all ordered pairs (complete
    by the banding pigeonhole); over-full buckets emit only the
    member↔hub star (2(c-1) pairs, hub = min-rep member), so no
    bucket contributes more than ``max(cap·(cap-1), 2(c-1))``
    candidates — the pair term can never track cluster-density².
    """
    mask = (1 << bits_per_band) - 1
    banded = (
        reps.select("rep_id", "sig", F.posexplode("sig").alias("word_idx", "word"))
        .withColumn(
            "band_idx",
            F.explode(F.sequence(F.lit(0), F.lit(bands_per_word - 1))),
        )
        .withColumn(
            "band_val",
            F.expr(
                f"shiftrightunsigned(word, CAST(band_idx * {bits_per_band} "
                f"AS INT)) & {mask}"
            ),
        )
        .drop("word")
    )
    bkey = ["word_idx", "band_idx", "band_val"]
    # Hot-bucket list: SMALL IN PRACTICE, not bounded by construction —
    # same bounded-broadcast protocol as anti_join_bounded (scale.py):
    # checkpoint once, probe the size, broadcast only under the bound.
    hot = (
        banded.groupBy(*bkey)
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.min(F.struct("rep_id", "sig")).alias("hub"),
        )
        .filter(F.col("k") > cap)
        .select(
            *bkey,
            F.col("hub.rep_id").alias("hub_id"),
            F.col("hub.sig").alias("hub_sig"),
        )
        .localCheckpoint(eager=False)
    )
    # A non-eager checkpoint still launches jobs before this count:
    # under AQE the ``localCheckpoint`` call runs its plan's
    # shuffle-map stages itself. The count then fills hot's checkpoint.
    n_hot = hot.count()
    _record_capped(n_hot, cap)
    small_hot = n_hot <= scale.HOT_BROADCAST_MAX
    hot_b = F.broadcast(hot) if small_hot else hot
    hot_keys = hot.select(*bkey)
    cold = banded.join(
        F.broadcast(hot_keys) if small_hot else hot_keys, bkey, "left_anti"
    )
    a, c = cold.alias("a"), cold.alias("c")
    pairs_cold = a.join(
        c,
        [F.col(f"a.{k}") == F.col(f"c.{k}") for k in bkey]
        + [F.col("a.rep_id") != F.col("c.rep_id")],
    ).select(
        F.col("a.rep_id").alias("rep_id"),
        F.col("a.sig").alias("sig"),
        F.col("c.rep_id").alias("nb_id"),
        F.col("c.sig").alias("nb_sig"),
    )
    members = banded.join(hot_b, bkey).filter(F.col("rep_id") != F.col("hub_id"))
    pairs_hot = members.select(
        "rep_id", "sig", F.col("hub_id").alias("nb_id"), F.col("hub_sig").alias("nb_sig")
    ).unionByName(
        members.select(
            F.col("hub_id").alias("rep_id"),
            F.col("hub_sig").alias("sig"),
            F.col("rep_id").alias("nb_id"),
            F.col("sig").alias("nb_sig"),
        )
    )
    return pairs_cold.unionByName(pairs_hot)


_U64 = (1 << 64) - 1  # a Spark long's two's-complement bit pattern


def _keep_on_driver(
    docs: list[tuple[int, tuple[int, ...]]],
    *,
    bands_per_word: int,
    bits_per_band: int,
    hamming_max: int,
    cap: int,
) -> dict[tuple[int, ...], int]:
    """``keep_doc_id`` per distinct signature of the (doc id, sig)
    rows in ``docs`` (no null id, no null word): the rule of
    ``banded_candidates`` and ``min_rep_dedup``, step for step. Reps
    are keyed by ``rep_id`` where Spark compares or groups by it, so
    two distinct signatures sharing a min doc id merge as they do
    there."""
    reps: dict[tuple[int, ...], int] = {}
    for doc, sig in docs:
        reps[sig] = min(doc, reps.get(sig, doc))
    mask = (1 << bits_per_band) - 1
    buckets = defaultdict(list)
    for sig, rep in reps.items():
        for w, word in enumerate(sig):
            for b in range(bands_per_word):
                # shiftrightunsigned: the shift counts mod 64, as Java's >>>
                val = ((word & _U64) >> (b * bits_per_band % 64)) & mask
                buckets[(w, b, val)].append((rep, sig))
    _record_capped(sum(len(m) > cap for m in buckets.values()), cap)

    # every candidate pair is emitted in both directions, and the
    # hamming distance is symmetric: verify each unordered pair once
    nb_min: dict[int, int] = {}
    seen = set()
    for members in buckets.values():
        if len(members) > cap:
            hub = min(members)
            cands = [(m, hub) for m in members if m[0] != hub[0]]
        else:
            cands = [
                (x, y) for i, x in enumerate(members) for y in members[i + 1:]
                if x[0] != y[0]
            ]
        for (ra, sa), (rb, sb) in cands:
            key = (sa, sb) if sa < sb else (sb, sa)
            if key in seen:
                continue
            seen.add(key)
            if len(sa) == len(sb) and sum(
                ((x ^ y) & _U64).bit_count() for x, y in zip(sa, sb)
            ) <= hamming_max:
                nb_min[ra] = min(rb, nb_min.get(ra, rb))
                nb_min[rb] = min(ra, nb_min.get(rb, ra))
    return {sig: min(rep, nb_min.get(rep, rep)) for sig, rep in reps.items()}


def min_rep_dedup(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    bands_per_word: int = 4,
    bits_per_band: int = 16,
    hamming_max: int = 2,
    cap: int = BAND_BUCKET_CAP,
) -> DataFrame:
    """Append ``keep_doc_id`` (min doc over the verified hamming
    neighborhood, including self) to a per-doc signature frame.

    ``sigs``: ``(id_col long, sig array<long>, …extra cols)`` — extra
    columns pass through untouched. The returned frame has the same
    rows plus ``keep_doc_id``; ``sig`` is retained for the caller to
    drop or project. Rows with a null ``sig`` are dropped.

    A frame of at most ``scale.HOT_BROADCAST_MAX`` rows is finished on the
    driver (module docstring); its result has ``sigs``' columns plus
    ``keep_doc_id``. A null id or null signature word sends the frame
    to the Spark plan, which defines what those mean.

    The probe is a global aggregate over the LIMIT: one map stage over
    all partitions plus one result stage, where a plain LIMIT collect
    scans 1, 4, 16… partitions in turn (more jobs the more cores
    spread the frame). Its cost past the bound: every partition
    computes its rows and writes up to ``HOT_BROADCAST_MAX`` + 1 of
    them to one shuffle, and the reduce side stops at the bound and
    returns null, so no row reaches the driver.
    """
    bound = scale.HOT_BROADCAST_MAX
    head = (
        sigs.limit(bound + 1)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.struct(*sigs.columns)).alias("rows"),
        )
        .select(F.when(F.col("n") <= bound, F.col("rows")))
        .collect()[0][0]
    )
    if head is not None:
        i_id, i_sig = sigs.columns.index(id_col), sigs.columns.index("sig")
        rows = [r for r in head if r[i_sig] is not None]
        if all(r[i_id] is not None and None not in r[i_sig] for r in rows):
            keep = _keep_on_driver(
                [(r[i_id], tuple(r[i_sig])) for r in rows],
                bands_per_word=bands_per_word,
                bits_per_band=bits_per_band,
                hamming_max=hamming_max,
                cap=cap,
            )
            schema = StructType(
                sigs.schema.fields
                + [StructField("keep_doc_id", sigs.schema[id_col].dataType)]
            )
            return sigs.sparkSession.createDataFrame(
                [(*r, keep[tuple(r[i_sig])]) for r in rows], schema, verifySchema=False
            )

    # 1. exact collapse: one row per DISTINCT signature. Checkpointed —
    #    three branches consume it (both band sides live under
    #    banded_candidates' shared `banded`, plus the keep join), and
    #    the collapsed frame is the small end of the pipeline. Eager:
    #    the hot-list count and the caller's action both read it, and a
    #    lazy checkpoint first filled by concurrent jobs of a later
    #    action can log "Failed to update accumulator" ERRORs (see
    #    ``llm._shingle_df``). The probe above already filled ``sigs``.
    reps = (
        sigs.groupBy("sig")
        .agg(F.min(id_col).alias("rep_id"))
        .localCheckpoint(eager=True)
    )
    cand = banded_candidates(
        reps, bands_per_word=bands_per_word, bits_per_band=bits_per_band, cap=cap
    )
    nbrs = (
        cand.filter(hamming_dist("sig", "nb_sig") <= hamming_max)
        .groupBy("rep_id")
        .agg(F.min("nb_id").alias("nb_min"))
    )
    keep = reps.join(nbrs, "rep_id", "left").select(
        "sig",
        F.least(F.col("rep_id"), F.coalesce("nb_min", "rep_id")).alias(
            "keep_doc_id"
        ),
    )
    return sigs.join(keep, "sig")
