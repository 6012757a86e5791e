"""Scale-toolbox tests (SURVEY §4.2): salting preserves join semantics
under pathological skew; bucketed tables join with NO exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hello_flink_spark.operators.scale import (
    anti_join_bounded,
    bucketed_join,
    salted_join,
    write_bucketed,
)
from hello_flink_spark.sources.readers import load_table


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    # manufacture pathological skew: 80% of rows onto one key
    skewed = orders.withColumn(
        "o_custkey", F.when(F.rand(7) < 0.8, F.lit(1)).otherwise(F.col("o_custkey"))
    )
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    plain = skewed.join(dim, skewed.o_custkey == dim.c_custkey).groupBy("c_mktsegment").count()
    salted = (
        salted_join(
            skewed.withColumnRenamed("o_custkey", "c_custkey"), dim, key="c_custkey"
        )
        .groupBy("c_mktsegment")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_preserves_left(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    dim = load_table(spark, sf_dir, "customer").filter("c_custkey % 2 = 0").select(
        "c_custkey", "c_mktsegment"
    )
    got = salted_join(orders, dim, key="c_custkey", how="left").count()
    want = orders.join(dim, "c_custkey", "left").count()
    assert got == want


def test_salted_join_rejects_unsupported_how(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(orders, orders, key="o_orderkey", how="full")


def test_anti_join_bounded_broadcasts_small_sets(spark, sf_dir):
    """Under the threshold, the guard keeps the broadcast plan (the
    map-side hot-list filter dedup relies on)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    keys = docs.filter("doc_id % 7 = 0").select("doc_id")
    out = anti_join_bounded(docs, keys, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_anti_join_bounded_fails_over_to_shuffle(spark, sf_dir):
    """A hot-heavy corpus (every key 'hot': the pathological input the
    VERDICT r05 #2 guard exists for) must NOT broadcast — forced via
    max_broadcast=0 — and the shuffle path must return the identical
    anti-join result."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    keys = docs.filter("doc_id % 7 = 0").select("doc_id")
    try:
        # a forced F.broadcast hint would survive threshold=-1; the
        # guard's unhinted join must not (AQE re-broadcasting from
        # genuine runtime stats is fine and not what this asserts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        guarded = anti_join_bounded(docs, keys, "doc_id", max_broadcast=0)
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, f"failover did not engage:\n{plan[:1500]}"
        want = docs.join(keys, "doc_id", "left_anti")
        assert sorted(map(tuple, guarded.collect())) == sorted(map(tuple, want.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Two tables bucketed identically on the join key must sort-merge
    join with no Exchange (the pre-paid shuffle)."""
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "custkey")
    write_bucketed(orders, "orders_b", "custkey", num_buckets=8, sort_by="custkey")
    write_bucketed(cust, "customer_b", "custkey", num_buckets=8, sort_by="custkey")
    try:
        # force the SMJ path: a broadcast would hide the bucketing
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "orders_b", "customer_b", "custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:1500]}"
        assert joined.count() == orders.join(cust, "custkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_load_table_ntz_scoped_no_session_mutation(spark, sf_dir, tmp_path):
    """VERDICT r06 #2 (what's wrong): the NTZ->LTZ events normalization
    must be SCOPED to the frame — identical epochs to the canonical
    fixture even under a hostile non-UTC session timezone, and the
    session config must come back untouched (a library read has no
    session-global side effects)."""
    from pyspark.sql import functions as F

    from hello_flink_spark.sources.readers import load_table

    src = load_table(spark, sf_dir, "events")
    expect = sorted(r[0] for r in src.select(F.unix_micros("ts")).collect())
    d = str(tmp_path / "ntz_fixture")
    src.withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.parquet(
        f"{d}/events.parquet"
    )
    before = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        ntz = load_table(spark, d, "events")
        assert dict(ntz.dtypes)["ts"] == "timestamp"
        got = sorted(r[0] for r in ntz.select(F.unix_micros("ts")).collect())
        assert got == expect
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)


def test_incremental_dedup_index_side_shuffle_free(spark, sf_dir):
    """dedup_incremental's probe anti-join must be Exchange-free on
    the INDEX side (the 100 TB side): comparative plan assertion — the
    bucketed index plan needs exactly one fewer Exchange than an
    identical plan probing the same index materialized WITHOUT
    bucketing, and the bucketed scan advertises its layout. Broadcast
    is disabled so SMJ (the at-scale strategy) is what's compared.
    (A Sort of the pre-sorted buckets remains: since Spark 3.0 a
    bucketed scan exposes its sortBy order only under
    spark.sql.legacy.bucketedTableScan.outputOrdering — a session
    config a library query must not flip; the index is written one
    sorted file per bucket, so flipping it is safe and checked in the
    second half of this test.)"""
    from pyspark.sql import functions as F

    from hello_flink_spark.queries.round9 import (
        incremental_index_table,
        incremental_merge,
    )

    tbl = incremental_index_table(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    batch_raw = (
        d.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
        .unionAll(d.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text"))
    )
    flat = spark.table(tbl).localCheckpoint(eager=True)  # same rows, no bucketing
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bucketed = incremental_merge(spark.table(tbl), batch_raw)
        plain = incremental_merge(flat, batch_raw)
        bp = bucketed._jdf.queryExecution().executedPlan().toString()
        pp = plain._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in bp and "LeftAnti" in bp, bp[:1500]
        assert "Bucketed: true" in bp, bp[:1500]
        assert bp.count("Exchange") == pp.count("Exchange") - 1, (
            f"bucketing did not remove the index-side Exchange:\n{bp[:2000]}"
        )
        # and the layout is free: identical rows either way
        assert sorted(map(tuple, bucketed.collect())) == sorted(
            map(tuple, plain.collect())
        )
        # one sorted file per bucket -> the legacy ordering flag also
        # drops the index-side Sort (the fully pre-paid layout)
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        sp = (
            incremental_merge(spark.table(tbl), batch_raw)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert sp.count("Sort ") == bp.count("Sort ") - 1, (
            f"sorted buckets did not remove the index-side Sort:\n{sp[:2000]}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")


def test_phash_incremental_index_side_shuffle_free(spark, sf_dir):
    """multimodal_dedup_phash_incremental's probe join must be
    Exchange-free on the INDEX side (the 100 TB side), same
    comparative assertion as the fingerprint-index test above: the
    bucketed band-index plan needs exactly one fewer Exchange than an
    identical plan probing the same rows unbucketed, under SMJ
    (broadcast disabled), and both layouts return identical rows."""
    from pyspark.sql import functions as F

    from hello_flink_spark.queries.round9 import (
        _phash_decode,
        _phash_png_encode,
        phash_index_probe,
        phash_index_table,
    )

    tbl = phash_index_table(spark, sf_dir)
    new_hashes = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 5 == 0)
        .mapInPandas(_phash_png_encode, schema="doc_id long, payload binary")
        .mapInPandas(_phash_decode, schema="doc_id long, phash long")
        .localCheckpoint(eager=True)
    )
    flat = spark.table(tbl).localCheckpoint(eager=True)  # same rows, no bucketing
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bucketed = phash_index_probe(spark.table(tbl), new_hashes)
        plain = phash_index_probe(flat, new_hashes)
        bp = bucketed._jdf.queryExecution().executedPlan().toString()
        pp = plain._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in bp, bp[:1500]
        assert "Bucketed: true" in bp, bp[:1500]
        assert bp.count("Exchange") == pp.count("Exchange") - 1, (
            f"bucketing did not remove the index-side Exchange:\n{bp[:2000]}"
        )
        assert sorted(map(tuple, bucketed.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


# ---------------------------------------------------------------------------
# Capped banded dedup (operators/banded_dedup.py — VERDICT r09 #1): the
# multimodal near-dup tier's candidate term must stay LINEAR on
# duplicate-dense corpora. Three invariants: exact-signature collapse
# makes re-upload mass linear; over-full buckets emit the hub star
# (2(c-1), never c(c-1)); driver fixtures stay under the cap so the
# oracle semantics are untouched.
# ---------------------------------------------------------------------------


def _sig_df(spark, pairs):
    """(doc_id, sig) frame from [(doc_id, [words…]), …]."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("sig", ArrayType(LongType())),
        ]
    )
    return spark.createDataFrame(
        [(int(d), [int(w) for w in s]) for d, s in pairs], schema
    )


def test_banded_dedup_exact_collapse_is_duplication_invariant(spark):
    """A million byte-identical uploads must contribute ONE row to the
    band join: candidate count is IDENTICAL whether a signature appears
    once or 200 times, and every duplicate maps to the group min."""
    from hello_flink_spark.operators.banded_dedup import (
        LAST_BAND_METRICS,
        banded_candidates,
        min_rep_dedup,
    )

    base = [(0, [0x1234]), (1, [0x7777_0000_0000]), (2, [0x1233])]
    dups = [(100 + i, [0x1234]) for i in range(200)]

    def n_cand(pairs):
        sigs = _sig_df(spark, pairs)
        reps = sigs.groupBy("sig").agg(F.min("doc_id").alias("rep_id"))
        return banded_candidates(reps).count()

    assert n_cand(base) == n_cand(base + dups)
    # 200 exact dups collapse BEFORE banding: no bucket trips the cap,
    # and the observability metric says so (ADVICE r10).
    assert LAST_BAND_METRICS["capped_buckets"] == 0

    out = {
        r["doc_id"]: r["keep_doc_id"]
        for r in min_rep_dedup(_sig_df(spark, base + dups), hamming_max=2).collect()
    }
    # 0x1234 vs 0x1233 differ by 3 bits (0b0100 vs 0b0011): NOT
    # near-dups at hamming<=2 — the exact group collapses to doc 0,
    # nothing else.
    assert out[0] == 0 and all(out[100 + i] == 0 for i in range(200))
    assert out[1] == 1 and out[2] == 2


def test_banded_dedup_hot_bucket_emits_hub_star_not_all_pairs(spark):
    """64 distinct signatures (0 and every single-bit int64-safe sig)
    land every colliding bucket over the cap — candidates must be
    LINEAR in the bucket size, and the hub chain must still collapse
    the dense cluster to its min representative exactly as all-pairs
    would (every member is within hamming 1 of the hub)."""
    from hello_flink_spark.operators.banded_dedup import (
        BAND_BUCKET_CAP,
        LAST_BAND_METRICS,
        banded_candidates,
        min_rep_dedup,
    )

    pairs = [(0, [0])] + [(i + 1, [1 << i]) for i in range(63)]
    sigs = _sig_df(spark, pairs)
    reps = sigs.groupBy("sig").agg(F.min("doc_id").alias("rep_id"))
    n = banded_candidates(reps).count()
    # all four zero-value buckets are over the cap, and the run can SEE
    # that hub-star chaining engaged (ADVICE r10 observability).
    assert LAST_BAND_METRICS["capped_buckets"] == 4
    # the four zero-value buckets hold the hub plus every sig whose bit
    # lies in another band: 48, 48, 48, 49 members (band 3 spans only
    # bits 48..62) — all over the cap, so each emits the 2(c-1)
    # directed star; the 63 one-bit buckets are singletons. All-pairs
    # would emit 3*48*47 + 49*48 = 9120; the star emits 3*94+96 = 378.
    assert n == 3 * 94 + 96, n
    assert n < BAND_BUCKET_CAP * (BAND_BUCKET_CAP - 1) * 4

    out = {
        r["doc_id"]: r["keep_doc_id"]
        for r in min_rep_dedup(sigs, hamming_max=2).collect()
    }
    # all-pairs ground truth: every pair is within hamming 2 -> every
    # doc keeps doc 0. The capped star reaches the same fixpoint
    # because every member verifies against the hub (hamming 1).
    assert out == {d: 0 for d in range(64)}


def test_multimodal_fixture_buckets_stay_under_cap():
    """The driver fixture's distinct-signature band buckets are far
    below BAND_BUCKET_CAP for all three modalities at sf0.01 (the
    correctness-gate scale), so the cap can never fire there and the
    all-pairs oracles stay exact. Closed forms, no Spark needed."""
    from collections import Counter

    from hello_flink_spark.operators.banded_dedup import BAND_BUCKET_CAP
    from hello_flink_spark.queries.round9 import (
        AFP_FRAMES,
        VDUP_FRAMES,
        _afp_loud,
        _phash_pixel,
        _vdup_bit,
    )

    n_docs = 500  # sf0.01 documents cardinality (TESTDATA.md)

    def pack(bits):
        v = 0
        for b, on in enumerate(bits):
            if on:
                v |= 1 << b
        return v

    corpora = {
        "phash": {
            tuple(
                [pack([_phash_pixel(d, 2 * (b % 8), 2 * (b // 8)) == 255 for b in range(64)])]
            )
            for d in range(n_docs)
        },
        "afp": {
            tuple([pack([_afp_loud(d, b) for b in range(AFP_FRAMES)])])
            for d in range(n_docs)
        },
        "vdup": {
            tuple(
                pack([_vdup_bit(d, k, b) for b in range(64)])
                for k in range(VDUP_FRAMES)
            )
            for d in range(n_docs)
        },
    }
    for name, sigset in corpora.items():
        buckets = Counter()
        for sig in sigset:
            for w, word in enumerate(sig):
                for j in range(4):
                    buckets[(w, j, (word >> (16 * j)) & 0xFFFF)] += 1
        worst = max(buckets.values())
        # measured maxima: phash 9, afp 9, vdup 18 — and the distinct-
        # signature sets are CLOSED under the (group, variant) cycles,
        # so no larger sf can grow them past the cap.
        assert worst < BAND_BUCKET_CAP, (name, worst)


def test_spread_small_scan_widens_one_split_and_passes_wide_through(spark):
    """spread_small_scan (r12, operators/scale.py) must widen an
    under-split narrow feed to default parallelism — the fixture
    parquet arrives as ONE split, which serialized every map-side
    stage before the first shuffle — and must be a NO-OP on a frame
    that is already at or above default parallelism (the cluster-scale
    case: no gratuitous exchange)."""
    from hello_flink_spark.operators.scale import spread_small_scan

    target = spark.sparkContext.defaultParallelism
    one = spark.range(1000).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    widened = spread_small_scan(one)
    assert widened.rdd.getNumPartitions() == target
    assert widened.count() == 1000

    wide = spark.range(1000).repartition(target + 4)
    out = spread_small_scan(wide)
    assert out is wide  # identical object: no plan node added


def test_worker_daemon_rereads_only_changed_archives(tmp_path, monkeypatch):
    """The engine's daemon hook (worker_daemon.invalidate_if_changed)
    makes repeated importlib.invalidate_caches() calls — one per Python
    task — cost a stat per zip importer instead of a directory re-read,
    while an archive rewritten on disk is still re-read."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from hello_flink_spark import worker_daemon

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m1.py", "X = 1\n")
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("m1").X == 1
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) <= 1

        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("m1.py", "X = 1\n")
            zf.writestr("m2.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module("m2").Y == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)


def test_session_python_workers_run_through_engine_daemon(spark):
    """get_spark points spark.python.daemon.module at the engine's
    daemon, so every Python worker carries its zip-importer hook."""
    import pandas as pd

    from hello_flink_spark import worker_daemon

    def hook_name(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame({"f": [zipimport.zipimporter.invalidate_caches.__name__]})

    got = {r.f for r in spark.range(4).mapInPandas(hook_name, "f string").collect()}
    assert got == {worker_daemon.invalidate_if_changed.__name__}
