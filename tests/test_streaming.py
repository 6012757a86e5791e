"""Streaming golden tests (SURVEY §5.3): replay the events fixture as a
chunked file stream (one micro-batch per chunk via maxFilesPerTrigger)
and compare final streaming results against the batch shadows — same
grouping expressions, so batch == streaming-final by construction.

Covers the S rows of SURVEY §2.1/§2.9/§2.10: source_filestream,
source_rate, source_socket, source_kafka stub, sink_memory,
sink_console, sink_parquet (streaming), sink_foreach_batch,
watermark_bounded, late_drop, late_side_output, dedup_stream,
agg_incremental, stream_static_join, stream_stream_join,
stateful_running_agg, stateful_timer, stateful_sessionize,
cep_pattern, window_count, window_cumulate, and the global-window
count trigger (window_global_trigger) streaming twins.
"""

from __future__ import annotations

import os
import time

import pandas as pd  # module-level: pandas_udf resolves stringized hints here
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hello_flink_spark.registry import get_spec
from hello_flink_spark.sources.readers import load_table
from hello_flink_spark.streaming import jobs, replay, stateful

WM = "30 minutes"


def run_to_memory(df, name: str, mode: str = "append"):
    q = jobs.to_memory_sink(df, name, output_mode=mode)
    q.awaitTermination()
    return q


@pytest.fixture(scope="module")
def replay_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_replay"))
    info = replay.chunk_events(spark, sf_dir, d, n_chunks=4)
    return d, info


@pytest.fixture(scope="module")
def late_replay_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_replay_late"))
    info = replay.chunk_events(spark, sf_dir, d, n_chunks=4, late_tail=True)
    assert info["late_ids"], "late-tail fixture produced no late events"
    return d, info


@pytest.fixture(scope="module")
def flush_replay_dir(spark, sf_dir, tmp_path_factory):
    """In-order replay + sentinel flush chunk: the watermark ends past
    every real event, so reorder-buffered ops drain fully (the
    bounded-input MAX_WATERMARK). Assertions filter user_id < 0."""
    d = str(tmp_path_factory.mktemp("events_replay_flush"))
    info = replay.chunk_events(spark, sf_dir, d, n_chunks=4, flush_tail=True)
    return d, info


@pytest.fixture(scope="module")
def late_flush_replay_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_replay_late_flush"))
    info = replay.chunk_events(
        spark, sf_dir, d, n_chunks=4, late_tail=True, flush_tail=True
    )
    assert info["late_ids"], "late-tail fixture produced no late events"
    return d, info


@pytest.fixture(scope="module")
def ooo_flush_replay_dir(spark, sf_dir, tmp_path_factory):
    """Out-of-order WITHIN the watermark delay: each chunk's last 10
    minutes arrive one micro-batch late (< the 30-minute delay), plus
    the sentinel flush chunk — a correct consumer must reorder these
    rows, not drop them (VERDICT r07 #7)."""
    d = str(tmp_path_factory.mktemp("events_replay_ooo"))
    info = replay.chunk_events(
        spark, sf_dir, d, n_chunks=4, ooo_within_delay_s=600, flush_tail=True
    )
    assert info["n_deferred"], "no events were deferred across a boundary"
    return d, info


def _stream(spark, replay_dir):
    return replay.read_stream(spark, replay_dir[0])


# ---------------------------------------------------------------------------
# windows + watermark
# ---------------------------------------------------------------------------


def test_tumbling_complete_equals_batch_shadow(spark, sf_dir, replay_dir):
    """window_tumbling streaming twin == its declared batch shadow."""
    run_to_memory(jobs.tumbling_counts(_stream(spark, replay_dir), WM), "t_tumble", "complete")
    got = {
        (r.window_start, r.event_type): (r.cnt, r.total_value)
        for r in spark.table("t_tumble").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.cnt, r.total_value)
        for r in get_spec("window_tumbling").fn(spark, sf_dir).collect()
    }
    assert got == want


def test_tumbling_offset_equals_batch_shadow(spark, sf_dir, replay_dir):
    """window_tumbling_offset streaming twin == its declared batch
    shadow (offset-aligned windows under watermarks)."""
    run_to_memory(
        jobs.tumbling_offset_counts(_stream(spark, replay_dir), WM),
        "t_tumble_off",
        "complete",
    )
    got = {r.window_end: r.cnt for r in spark.table("t_tumble_off").collect()}
    want = {
        r.window_end: r.cnt
        for r in get_spec("window_tumbling_offset").fn(spark, sf_dir).collect()
    }
    assert got == want


def test_sliding_complete_equals_batch_shadow(spark, sf_dir, replay_dir):
    run_to_memory(jobs.sliding_counts(_stream(spark, replay_dir), WM), "t_slide", "complete")
    got = {
        (r.window_start, r.event_type): (r.cnt, r.total_value)
        for r in spark.table("t_slide").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.cnt, r.total_value)
        for r in get_spec("window_sliding").fn(spark, sf_dir).collect()
    }
    assert got == want


def test_cumulate_complete_equals_batch_shadow(spark, sf_dir, replay_dir):
    """window_cumulate streaming twin (stateless step expansion +
    15-min tumbling agg) == its declared batch shadow."""
    run_to_memory(jobs.cumulate_counts(_stream(spark, replay_dir), WM), "t_cumul", "complete")
    got = {
        (r.window_end, r.event_type): r.cnt for r in spark.table("t_cumul").collect()
    }
    want = {
        (r.window_end, r.event_type): r.cnt
        for r in get_spec("window_cumulate").fn(spark, sf_dir).collect()
    }
    assert got == want


def test_session_append_subset_of_batch_shadow(spark, sf_dir, replay_dir):
    """Append-mode session windows: every finalized session matches the
    batch shadow; trailing sessions (watermark never passes them after
    the last chunk) are legitimately withheld."""
    run_to_memory(jobs.session_counts(_stream(spark, replay_dir), WM), "t_sess", "append")
    got = {
        (r.user_id, r.session_start): (r.cnt, r.total_value)
        for r in spark.table("t_sess").collect()
    }
    want = {
        (r.user_id, r.session_start): (r.cnt, r.total_value)
        for r in get_spec("window_session").fn(spark, sf_dir).collect()
    }
    assert got, "no sessions finalized"
    assert all(want.get(k) == v for k, v in got.items()), "finalized session != batch shadow"


def test_session_dynamic_append_subset_of_batch_shadow(spark, sf_dir, replay_dir):
    """Dynamic-gap session windows in streaming: every finalized
    session matches the batch shadow (trailing sessions legitimately
    withheld by the watermark)."""
    run_to_memory(
        jobs.session_counts_dynamic(_stream(spark, replay_dir), WM), "t_sess_dyn", "append"
    )
    got = {
        (r.user_id, r.session_start): r.cnt for r in spark.table("t_sess_dyn").collect()
    }
    want = {
        (r.user_id, r.session_start): r.cnt
        for r in get_spec("window_session_dynamic").fn(spark, sf_dir).collect()
    }
    assert got, "no dynamic sessions finalized"
    assert all(want.get(k) == v for k, v in got.items())


def test_observed_metrics_cover_all_rows(spark, sf_dir, replay_dir):
    """observe(): per-micro-batch custom metrics must account for every
    replayed row across the run (the monitoring-hook contract)."""
    obs = jobs.with_observed_metrics(_stream(spark, replay_dir))
    q = jobs.to_memory_sink(obs.select("event_id", "value"), "t_obs")
    q.awaitTermination()
    seen = 0
    for p in q.recentProgress:
        om = p.observedMetrics if hasattr(p, "observedMetrics") else p["observedMetrics"]
        if om and "metrics" in om:
            seen += om["metrics"]["rows"]
    assert seen == load_table(spark, sf_dir, "events").count()


def test_json_payload_counts_equals_batch(spark, sf_dir, replay_dir):
    """Streaming from_json parse + windowed agg == the same expression
    over the batch table (the Kafka payload pattern end-to-end)."""
    run_to_memory(
        jobs.json_payload_counts(_stream(spark, replay_dir), WM), "t_json", "complete"
    )
    got = {
        (r.window_start, r.k_bucket): r.cnt for r in spark.table("t_json").collect()
    }
    e = load_table(spark, sf_dir, "events")
    want_df = (
        e.withColumn("payload", F.from_json(F.col("props"), "k long"))
        .withColumn("k_bucket", F.pmod(F.col("payload.k"), F.lit(10)))
        .groupBy(F.window("ts", "30 minutes").alias("w"), "k_bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "k_bucket", "cnt")
    )
    want = {(r.window_start, r.k_bucket): r.cnt for r in want_df.collect()}
    assert got == want


def test_late_rows_dropped(spark, sf_dir, late_replay_dir):
    """late_drop / watermark_bounded: events replayed after the watermark
    passed their window must not appear in append-mode output."""
    d, info = late_replay_dir
    run_to_memory(jobs.tumbling_counts(replay.read_stream(spark, d), WM), "t_late", "append")
    emitted = spark.table("t_late").collect()
    assert emitted, "no windows finalized"
    # batch shadow over ON-TIME events only
    late_ids = info["late_ids"]
    on_time = (
        load_table(spark, sf_dir, "events")
        .filter(~F.col("event_id").isin(late_ids))
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "total_value")
    )
    want = {
        (r.window_start, r.event_type): (r.cnt, r.total_value) for r in on_time.collect()
    }
    for r in emitted:
        assert want.get((r.window_start, r.event_type)) == (r.cnt, r.total_value), (
            f"late rows leaked into window {r.window_start}/{r.event_type}"
        )


def test_late_side_output_foreach_batch(spark, late_replay_dir, tmp_path):
    """late_side_output approximation: foreachBatch fan-out routes the
    withheld tail to the late sink."""
    d, info = late_replay_dir
    on_time_dir = str(tmp_path / "on_time")
    late_dir = str(tmp_path / "late")
    fn = jobs.late_split_foreach_batch(on_time_dir, late_dir, allowed_lateness=WM)
    q = jobs.to_foreach_batch(
        replay.read_stream(spark, d).select("event_id", "ts"),
        fn,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    late_rows = spark.read.parquet(late_dir).collect()
    late_got = {r.event_id for r in late_rows}
    assert late_got, "no late rows routed"
    assert late_got <= set(info["late_ids"]), "on-time rows misrouted as late"


def test_late_split_rehydrates_after_restart(spark, tmp_path):
    """ADVICE r02: the late-split watermark lives driver-side, outside
    the checkpoint. After a 'restart' (a fresh handler over sinks that
    already hold data), genuinely late rows must still be routed to the
    late sink — the handler rehydrates max(ts) from the written dirs."""
    on_time_dir = str(tmp_path / "on_time")
    late_dir = str(tmp_path / "late")
    pre = spark.createDataFrame(
        [(1, "2024-06-01 12:00:00"), (2, "2024-06-01 13:00:00")],
        "event_id long, ts_s string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    pre.write.parquet(on_time_dir)

    # fresh handler = restarted query; its in-memory watermark is empty
    fn = jobs.late_split_foreach_batch(on_time_dir, late_dir, "30 minutes")
    batch = spark.createDataFrame(
        [(3, "2024-06-01 10:00:00"), (4, "2024-06-01 12:50:00")],
        "event_id long, ts_s string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    fn(batch, 0)

    late_ids = {r.event_id for r in spark.read.parquet(late_dir).collect()}
    on_time_ids = {r.event_id for r in spark.read.parquet(on_time_dir).collect()}
    assert late_ids == {3}, "pre-restart watermark not rehydrated"
    assert {1, 2, 4} <= on_time_ids


def test_late_split_boundary_delta_vs_per_event_watermark(spark, tmp_path):
    """Quantifies (not just documents) the one-micro-batch boundary
    delta of the late-split approximation vs Flink's per-event
    watermark (SURVEY §4.4): the handler judges lateness against the
    max event time of PREVIOUS batches, so the only divergence is an
    event that is late relative to its OWN batch's running max but not
    relative to the previous batches' max. The approximation must only
    ever UNDER-tag (handler-late ⊆ per-event-late), never over-tag,
    and the under-tagged set must be exactly the formal delta."""
    import datetime as dt

    lateness = dt.timedelta(minutes=30)

    def ts(h, m):
        return dt.datetime(2024, 6, 1, h, m)

    batches = [
        [(1, ts(12, 0)), (2, ts(12, 10))],
        # e3 advances the in-batch running max to 14:00; e5 is late only
        # against that in-batch max (13:00 < 13:30) — the delta event.
        [(3, ts(14, 0)), (4, ts(13, 45)), (5, ts(13, 0)), (6, ts(11, 30))],
    ]

    # Flink-style reference: per-event running max in arrival order.
    per_event_late: set = set()
    run_max = None
    for batch in batches:
        for eid, t in batch:
            if run_max is not None and t < run_max - lateness:
                per_event_late.add(eid)
            run_max = t if run_max is None or t > run_max else run_max

    # formal delta: late vs own batch's running max, on-time vs the
    # previous batches' max.
    expected_delta: set = set()
    prev_max = None
    for batch in batches:
        bmax = prev_max
        for eid, t in batch:
            own_late = bmax is not None and t < bmax - lateness
            prev_late = prev_max is not None and t < prev_max - lateness
            if own_late and not prev_late:
                expected_delta.add(eid)
            bmax = t if bmax is None or t > bmax else bmax
        prev_max = bmax

    on_time_dir = str(tmp_path / "on_time")
    late_dir = str(tmp_path / "late")
    fn = jobs.late_split_foreach_batch(on_time_dir, late_dir, "30 minutes")
    for i, batch in enumerate(batches):
        fn(spark.createDataFrame(batch, "event_id long, ts timestamp"), i)

    handler_late = {r.event_id for r in spark.read.parquet(late_dir).collect()}
    handler_on_time = {r.event_id for r in spark.read.parquet(on_time_dir).collect()}
    all_ids = {eid for b in batches for eid, _ in b}

    assert handler_late | handler_on_time == all_ids, "events lost in fan-out"
    assert not (handler_late & handler_on_time), "event routed to both sinks"
    assert handler_late <= per_event_late, "approximation over-tagged late"
    assert per_event_late - handler_late == expected_delta, (
        "boundary delta is not exactly the within-batch stragglers"
    )
    assert expected_delta == {5} and handler_late == {6}, "fixture drifted"


def test_upsert_version_col_and_multi_row_guard(spark, tmp_path):
    """ADVICE r02: 'latest row per key' must be deterministic — with
    version_col the max-version row wins; without it a multi-row-per-key
    batch raises instead of upserting an arbitrary row."""
    target = str(tmp_path / "upsert_v")
    batch = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")],
        "user_id long, version long, tag string",
    )
    fn = jobs.upsert_by_key_foreach_batch(target, key="user_id", version_col="version")
    fn(batch, 0)
    got = {r.user_id: r.tag for r in spark.read.parquet(target).collect()}
    assert got == {1: "new", 2: "only"}

    fn_unversioned = jobs.upsert_by_key_foreach_batch(target, key="user_id")
    with pytest.raises(ValueError, match="version_col"):
        fn_unversioned(batch, 0)


# ---------------------------------------------------------------------------
# dedup / joins / incremental agg
# ---------------------------------------------------------------------------


def test_dedup_within_watermark(spark, sf_dir, tmp_path):
    """dedup_stream: duplicated chunk replayed within the watermark
    horizon → dropDuplicatesWithinWatermark keeps one row per event_id."""
    d = str(tmp_path / "dup_replay")
    events = load_table(spark, sf_dir, "events").orderBy("ts").limit(300)
    events.coalesce(1).write.parquet(os.path.join(d, "chunk_000"))
    events.coalesce(1).write.parquet(os.path.join(d, "chunk_001"))  # exact duplicates
    run_to_memory(jobs.dedup_events(replay.read_stream(spark, d), WM), "t_dedup", "append")
    got = spark.table("t_dedup").select("event_id").collect()
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids)) == 300


def test_dedup_documents_stream(spark, sf_dir, tmp_path):
    """Document-firehose dedup: the same crawl batch replayed twice
    (second pass inside the watermark horizon) must yield each unique
    normalized text exactly once."""
    d = str(tmp_path / "docs_replay")
    docs = (
        load_table(spark, sf_dir, "documents")
        .limit(200)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") % 600),
        )
        .select("doc_id", "text", "ingest_ts")
    )
    docs.coalesce(1).write.parquet(os.path.join(d, "chunk_000"))
    docs.coalesce(1).write.parquet(os.path.join(d, "chunk_001"))  # the re-crawl

    stream = (
        spark.readStream.schema("doc_id long, text string, ingest_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "chunk_*", "*.parquet"))
    )
    run_to_memory(jobs.dedup_documents_stream(stream, WM), "t_docdedup", "append")
    got = spark.table("t_docdedup").select("norm_hash").collect()
    hashes = [r.norm_hash for r in got]
    n_unique_texts = (
        docs.select(F.sha2(F.lower(F.trim("text")), 256).alias("h")).distinct().count()
    )
    assert len(hashes) == len(set(hashes)) == n_unique_texts


def test_stream_static_join(spark, sf_dir, replay_dir):
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 10), ("signup", 5), ("error", 0)],
        "event_type string, weight int",
    )
    run_to_memory(
        jobs.stream_static_join(_stream(spark, replay_dir), dim).select(
            "event_id", "event_type", "weight"
        ),
        "t_ssj",
    )
    got = spark.table("t_ssj")
    want = load_table(spark, sf_dir, "events").join(dim, "event_type")
    assert got.count() == want.count()
    assert got.agg(F.sum("weight")).head()[0] == want.agg(F.sum("weight")).head()[0]


def test_stream_window_join(spark, sf_dir, replay_dir):
    """[F] DataStream window join twin: the streaming tumbling-bucket
    pair join over the chunked replay must equal the hash-verified
    batch shadow (join_window_batch) ROW FOR ROW — bucket membership,
    state evicted per bucket by the watermark."""
    from hello_flink_spark.registry import get_spec

    run_to_memory(
        jobs.stream_window_join(_stream(spark, replay_dir), WM), "t_swj"
    )
    got = sorted(
        tuple(r) for r in spark.table("t_swj").collect()
    )
    want = sorted(
        tuple(r) for r in get_spec("join_window_batch").fn(spark, sf_dir).collect()
    )
    assert got == want


def test_stream_cogroup_window(spark, sf_dir, replay_dir):
    """[F] DataStream window coGroup twin (VERDICT r10 #4): the
    streaming union-aggregate over the chunked replay must equal the
    hash-verified batch shadow (join_cogroup_window) ROW FOR ROW —
    and the matched set must exercise the contract that separates
    coGroup from the window join: at least one (user, window) group
    with one side EMPTY on each side."""
    from hello_flink_spark.registry import get_spec

    run_to_memory(
        jobs.stream_cogroup_window(_stream(spark, replay_dir), WM),
        "t_scgw",
        "complete",
    )
    got = sorted(tuple(r) for r in spark.table("t_scgw").collect())
    want = sorted(
        tuple(r)
        for r in get_spec("join_cogroup_window").fn(spark, sf_dir).collect()
    )
    assert got == want
    # one-side-empty groups present in BOTH directions (cols:
    # window_start, user_id, n_clicks, n_purchases, ...)
    assert any(r[2] == 0 and r[3] > 0 for r in got), "no clicks-empty group"
    assert any(r[3] == 0 and r[2] > 0 for r in got), "no purchases-empty group"


def test_stream_stream_interval_join(spark, sf_dir, replay_dir):
    run_to_memory(
        jobs.stream_stream_interval_join(_stream(spark, replay_dir), WM), "t_ssij"
    )
    got = spark.table("t_ssij").count()
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter("event_type = 'click'").select("user_id", F.col("ts").alias("c_ts"))
    purchases = e.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )
    want = clicks.join(
        purchases,
        (clicks.user_id == purchases.p_user_id)
        & (purchases.p_ts >= clicks.c_ts)
        & (purchases.p_ts <= clicks.c_ts + F.expr("INTERVAL 30 MINUTES")),
    ).count()
    assert got == want


def test_stream_stream_left_outer_join(spark, sf_dir, replay_dir):
    """Outer stream-stream join: matched rows == batch inner join;
    NULL-extended rows are exactly the batch anti-join rows whose match
    window closed under the final watermark (later clicks legitimately
    remain in state when a bounded replay ends)."""
    run_to_memory(
        jobs.stream_stream_left_outer_join(_stream(spark, replay_dir), WM), "t_ssloj"
    )
    got = spark.table("t_ssloj")

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter("event_type = 'click'").select("user_id", F.col("ts").alias("c_ts"))
    purchases = e.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )
    cond = (
        (clicks.user_id == purchases.p_user_id)
        & (purchases.p_ts >= clicks.c_ts)
        & (purchases.p_ts <= clicks.c_ts + F.expr("INTERVAL 30 MINUTES"))
    )
    want_matched = clicks.join(purchases, cond).count()
    assert got.filter("p_ts IS NOT NULL").count() == want_matched

    # A click's NULL row is due once the watermark passes c_ts + 30 min.
    # The watermark that batch N acts on derives from data through batch
    # N-1, so the guaranteed-flushed horizon is max(ts) of all chunks
    # but the last, minus the 30-min watermark delay.
    wm_base = spark.read.parquet(
        *[os.path.join(replay_dir[0], f"chunk_{i:03d}") for i in range(3)]
    ).agg(F.max("ts")).head()[0]
    closed_before = F.lit(wm_base) - F.expr("INTERVAL 30 MINUTES") - F.expr("INTERVAL 30 MINUTES")
    p2 = purchases.withColumnRenamed("p_user_id", "u2")
    unmatched = clicks.join(
        p2,
        (clicks.user_id == p2.u2)
        & (p2.p_ts >= clicks.c_ts)
        & (p2.p_ts <= clicks.c_ts + F.expr("INTERVAL 30 MINUTES")),
        "left_anti",
    )
    must_emit = unmatched.filter(F.col("c_ts") < closed_before).count()
    got_nulls = got.filter("p_ts IS NULL").count()
    assert got_nulls >= must_emit and must_emit > 0
    # and every NULL row really is unmatched in batch
    assert (
        got.filter("p_ts IS NULL")
        .join(clicks.join(purchases, cond).select("user_id", "c_ts"), ["user_id", "c_ts"], "left_semi")
        .count()
        == 0
    )


def test_stream_stream_full_outer_join(spark, sf_dir, replay_dir):
    """Full-outer stream-stream join: matched rows == batch inner join;
    NULL-extended rows on EITHER side are batch anti-join rows, with
    the watermark-closed cohort guaranteed emitted (tail rows of the
    bounded replay legitimately stay in state)."""
    run_to_memory(
        jobs.stream_stream_full_outer_join(_stream(spark, replay_dir), WM), "t_ssfoj"
    )
    got = spark.table("t_ssfoj")

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter("event_type = 'click'").select("user_id", F.col("ts").alias("c_ts"))
    purchases = e.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )
    cond = (
        (clicks.user_id == purchases.p_user_id)
        & (purchases.p_ts >= clicks.c_ts)
        & (purchases.p_ts <= clicks.c_ts + F.expr("INTERVAL 30 MINUTES"))
    )
    want_matched = clicks.join(purchases, cond).count()
    assert got.filter("c_ts IS NOT NULL AND p_ts IS NOT NULL").count() == want_matched

    # click-side NULL rows: unmatched clicks whose window closed
    wm_base = spark.read.parquet(
        *[os.path.join(replay_dir[0], f"chunk_{i:03d}") for i in range(3)]
    ).agg(F.max("ts")).head()[0]
    closed_before = (
        F.lit(wm_base) - F.expr("INTERVAL 30 MINUTES") - F.expr("INTERVAL 30 MINUTES")
    )
    p2 = purchases.withColumnRenamed("p_user_id", "u2")
    unmatched_clicks = clicks.join(
        p2,
        (clicks.user_id == p2.u2)
        & (p2.p_ts >= clicks.c_ts)
        & (p2.p_ts <= clicks.c_ts + F.expr("INTERVAL 30 MINUTES")),
        "left_anti",
    )
    must_emit_clicks = unmatched_clicks.filter(F.col("c_ts") < closed_before).count()
    got_click_nulls = got.filter("p_ts IS NULL").count()
    assert got_click_nulls >= must_emit_clicks and must_emit_clicks > 0

    # purchase-side NULL rows (the capability left-outer lacks):
    # every emitted NULL-click row is a batch-unmatched purchase
    c2 = clicks.withColumnRenamed("user_id", "u2")
    unmatched_purch = purchases.join(
        c2,
        (purchases.p_user_id == c2.u2)
        & (purchases.p_ts >= c2.c_ts)
        & (purchases.p_ts <= c2.c_ts + F.expr("INTERVAL 30 MINUTES")),
        "left_anti",
    )
    got_purch_nulls = got.filter("c_ts IS NULL")
    assert got_purch_nulls.count() > 0
    assert (
        got_purch_nulls.select(F.col("p_user_id"), "p_ts")
        .join(unmatched_purch.select("p_user_id", "p_ts"), ["p_user_id", "p_ts"], "left_anti")
        .count()
        == 0
    )


def test_running_totals_update_mode(spark, sf_dir, replay_dir):
    """agg_incremental: update-mode running agg; the LAST emission per
    key equals the batch aggregate."""
    run_to_memory(jobs.running_totals(_stream(spark, replay_dir)), "t_run", "update")
    emitted = spark.table("t_run")
    final = (
        emitted.groupBy("user_id").agg(F.max("event_cnt").alias("event_cnt")).collect()
    )
    got = {r.user_id: r.event_cnt for r in final}
    want = {
        r.user_id: r.event_cnt
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("event_cnt"))
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# stateful processors
# ---------------------------------------------------------------------------


def test_stateful_running_agg(spark, sf_dir, replay_dir):
    run_to_memory(
        stateful.stateful_running_agg(_stream(spark, replay_dir)), "t_srun", "update"
    )
    final = (
        spark.table("t_srun")
        .groupBy("user_id")
        .agg(F.max("event_cnt").alias("event_cnt"))
        .collect()
    )
    got = {r.user_id: r.event_cnt for r in final}
    want = {
        r.user_id: r.event_cnt
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("event_cnt"))
        .collect()
    }
    assert got == want


def test_stateful_sessionize_matches_batch_shadow(spark, sf_dir, replay_dir):
    """Emitted sessions (closed in-order or by event-time timer) must
    match the batch gaps-and-islands shadow row-for-row."""
    run_to_memory(
        stateful.stateful_sessionize(_stream(spark, replay_dir), WM), "t_sess2", "append"
    )
    got = {
        (r.user_id, r.session_start): (r.cnt, r.total_value)
        for r in spark.table("t_sess2").collect()
    }
    want = {
        (r.user_id, r.session_start): (r.cnt, r.total_value)
        for r in get_spec("window_session").fn(spark, sf_dir).collect()
    }
    assert got, "no sessions emitted"
    mismatches = {k: (v, want.get(k)) for k, v in got.items() if want.get(k) != v}
    assert not mismatches, f"sessions diverge from batch shadow: {list(mismatches.items())[:3]}"


def test_cep_equals_batch_shadow(spark, sf_dir, replay_dir):
    """The streaming NFA must produce exactly the batch-shadow matches
    (every click paired with its first subsequent purchase <= 30 min)."""
    run_to_memory(stateful.cep_click_purchase(_stream(spark, replay_dir), WM), "t_cep")
    got = sorted(
        (r.user_id, r.click_ts, r.purchase_ts) for r in spark.table("t_cep").collect()
    )
    want = sorted(
        (r.user_id, r.click_ts, r.first_purchase_ts)
        for r in get_spec("cep_pattern_batch").fn(spark, sf_dir).collect()
    )
    assert got == want


def test_dynamic_rules_broadcast_state(spark, sf_dir, tmp_path):
    """Broadcast state pattern: the rules snapshot read per micro-batch
    governs that batch — after a rules update + checkpoint resume, new
    chunks are filtered by the NEW revision (and tagged with it), old
    output stays as filtered by the old revision."""
    import shutil

    src = str(tmp_path / "all_chunks")
    replay.chunk_events(spark, sf_dir, src, n_chunks=4)
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    rules, out, ckpt = (str(tmp_path / p) for p in ("rules", "out", "ckpt"))

    def stage(*idx):
        for i in idx:
            shutil.copytree(
                os.path.join(src, f"chunk_{i:03d}"),
                os.path.join(stream_dir, f"chunk_{i:03d}"),
            )

    def write_rules(rows):
        spark.createDataFrame(
            rows, "event_type string, min_value double, rule_rev long"
        ).coalesce(1).write.mode("overwrite").parquet(rules)

    def run_once():
        jobs.to_foreach_batch(
            replay.read_stream(spark, stream_dir),
            jobs.dynamic_rules_foreach_batch(rules, out),
            ckpt,
        ).awaitTermination()

    write_rules([("click", 0.0, 1)])
    stage(0, 1)
    run_once()
    write_rules([("purchase", 0.0, 2)])
    stage(2, 3)
    run_once()

    got = spark.read.parquet(out)
    chunks01 = spark.read.parquet(
        os.path.join(src, "chunk_000"), os.path.join(src, "chunk_001")
    )
    chunks23 = spark.read.parquet(
        os.path.join(src, "chunk_002"), os.path.join(src, "chunk_003")
    )
    rev1, rev2 = got.filter("rule_rev = 1"), got.filter("rule_rev = 2")
    want1 = chunks01.filter("event_type = 'click'").count()
    want2 = chunks23.filter("event_type = 'purchase'").count()
    assert rev1.count() == want1 > 0
    assert rev2.count() == want2 > 0
    assert got.count() == want1 + want2
    assert rev1.select("event_type").distinct().collect()[0][0] == "click"
    assert rev2.select("event_type").distinct().collect()[0][0] == "purchase"


def test_cep3_equals_batch_shadow(spark, sf_dir, replay_dir):
    """The 3-step NFA (view → click → purchase) must produce exactly
    the batch-shadow triples (view's first click within 30 min, that
    click's first purchase within 30 min)."""
    run_to_memory(
        stateful.cep3_view_click_purchase(_stream(spark, replay_dir), WM), "t_cep3"
    )
    got = sorted(
        (r.user_id, r.view_ts, r.click_ts, r.purchase_ts)
        for r in spark.table("t_cep3").collect()
    )
    want = sorted(
        (r.user_id, r.view_ts, r.click_ts, r.purchase_ts)
        for r in get_spec("cep3_pattern_batch").fn(spark, sf_dir).collect()
    )
    assert got and got == want


def test_cep4_compiled_equals_batch_shadow(spark, sf_dir, replay_dir):
    """The pattern COMPILER (streaming/cep.py) on the 4-step funnel
    signup → view → click → purchase: the compiled NFA's final output
    must equal the compiled batch join chain (the declared
    cep4_pattern_batch), anchor ids included — one declarative pattern,
    two execution strategies, identical matches."""
    from hello_flink_spark.streaming.cep import FUNNEL4, compile_stream

    run_to_memory(compile_stream(FUNNEL4, _stream(spark, replay_dir), WM), "t_cep4")
    got = sorted(
        (r.user_id, r.signup_id, r.signup_ts, r.view_ts, r.click_ts, r.purchase_ts)
        for r in spark.table("t_cep4").collect()
    )
    want = sorted(
        (r.user_id, r.signup_id, r.signup_ts, r.view_ts, r.click_ts, r.purchase_ts)
        for r in get_spec("cep4_pattern_batch").fn(spark, sf_dir).collect()
    )
    assert got and got == want


def test_cep_guarded_equals_batch_shadow(spark, sf_dir, replay_dir):
    """The compiler's per-step value-guard tier (Flink CEP .where()):
    the guarded NFA (view → click → purchase ≥ 100) must equal the
    guarded batch join chain — guards applied identically in both
    execution forms."""
    from hello_flink_spark.streaming.cep import GUARDED3, compile_stream

    run_to_memory(compile_stream(GUARDED3, _stream(spark, replay_dir), WM), "t_cepg")
    got = sorted(
        (r.user_id, r.view_id, r.view_ts, r.click_ts, r.purchase_ts)
        for r in spark.table("t_cepg").collect()
    )
    want = sorted(
        (r.user_id, r.view_id, r.view_ts, r.click_ts, r.purchase_ts)
        for r in get_spec("cep_pattern_guarded").fn(spark, sf_dir).collect()
    )
    assert got and got == want


def test_cep_compiler_rejects_short_patterns():
    from hello_flink_spark.streaming.cep import CepPattern

    with pytest.raises(ValueError, match="at least 2 steps"):
        CepPattern(steps=("click",), within_minutes=30)


def test_count_window_stream(spark, sf_dir, replay_dir):
    """Completed count-window chunks must match the batch shadow's
    full chunks (the trailing partial stays in state)."""
    run_to_memory(stateful.count_window_stream(_stream(spark, replay_dir)), "t_cw")
    got = {
        (r.user_id, r.chunk): (r.cnt, r.total_value) for r in spark.table("t_cw").collect()
    }
    full_chunks = (
        get_spec("window_count")
        .fn(spark, sf_dir)
        .filter(F.col("cnt") == stateful.COUNT_WINDOW_SIZE)
    )
    want = {(r.user_id, r.chunk): (r.cnt, r.total_value) for r in full_chunks.collect()}
    assert got == want


def test_count_window_evictor_stream(spark, sf_dir, replay_dir):
    """[F] CountEvictor golden: completed evicted count-windows must
    match the batch shadow window_count_evictor on every FULL chunk
    (full = the chunks window_count reports with cnt == 5; the
    trailing partial stays in state). Also pins the O(keep) state
    contract indirectly: the ring never aggregates more than 3."""
    run_to_memory(
        stateful.count_window_evictor_stream(_stream(spark, replay_dir)), "t_cwe"
    )
    got = {
        (r.user_id, r.chunk): (r.cnt_kept, r.total_value)
        for r in spark.table("t_cwe").collect()
    }
    full_keys = {
        (r.user_id, r.chunk)
        for r in get_spec("window_count")
        .fn(spark, sf_dir)
        .filter(F.col("cnt") == stateful.COUNT_WINDOW_SIZE)
        .collect()
    }
    want = {
        (r.user_id, r.chunk): (r.cnt_kept, r.total_value)
        for r in get_spec("window_count_evictor").fn(spark, sf_dir).collect()
        if (r.user_id, r.chunk) in full_keys
    }
    assert got == want
    assert got, "no full evicted chunks in the replay"
    assert all(c == stateful.COUNT_EVICT_KEEP for c, _ in got.values())


def test_global_count_trigger_stream(spark, sf_dir, replay_dir):
    """window_global_trigger: the keyed count-trigger state machine's
    firings must match the batch shadow's every-5th-event snapshots
    exactly (the stream's pending tail below the next boundary is
    legitimately unfired)."""
    run_to_memory(
        stateful.global_count_trigger_stream(_stream(spark, replay_dir)), "t_gct"
    )
    got = {
        (r.user_id, r.fire_at): r.total_value for r in spark.table("t_gct").collect()
    }
    want = {
        (r.user_id, r.fire_at): r.total_value
        for r in get_spec("window_global_trigger_batch").fn(spark, sf_dir).collect()
    }
    assert got == want


def test_stateful_timer_inactivity_alerts(spark, sf_dir, replay_dir):
    """stateful_timer: alerts fire only via event-time timers; every
    alerted (user, last_seen) must be a real >=1h-idle point — i.e. the
    next event for that user in the batch data is >1h later or absent."""
    run_to_memory(
        stateful.inactivity_alerts(_stream(spark, replay_dir), WM), "t_idle", "append"
    )
    alerts = spark.table("t_idle").collect()
    assert alerts, "no inactivity alerts fired"
    events = (
        load_table(spark, sf_dir, "events").select("user_id", "ts").orderBy("ts").collect()
    )
    by_user: dict = {}
    for r in events:
        by_user.setdefault(r.user_id, []).append(r.ts)
    for a in alerts:
        later = [ts for ts in by_user[a.user_id] if ts > a.last_seen]
        gap_ok = not later or (later[0] - a.last_seen).total_seconds() >= 3600
        assert gap_ok, f"alert at {a.last_seen} for user {a.user_id} but next event {later[:1]}"


# ---------------------------------------------------------------------------
# sources & sinks
# ---------------------------------------------------------------------------


def test_rate_source_produces_rows(spark):
    df = jobs.rate_source(spark, rows_per_second=50)
    q = df.writeStream.format("memory").queryName("t_rate").outputMode("append").start()
    try:
        deadline = time.time() + 20
        while time.time() < deadline and spark.table("t_rate").count() == 0:
            time.sleep(0.5)
        assert spark.table("t_rate").count() > 0
    finally:
        q.stop()


def test_socket_source_builder(spark):
    df = jobs.socket_source(spark)
    assert df.isStreaming and df.columns == ["value"]


def test_kafka_stub_raises_cleanly(spark):
    with pytest.raises(NotImplementedError, match="kafka connector"):
        jobs.kafka_source_stub(spark, "localhost:9092", "events")


def test_parquet_sink_streaming(spark, sf_dir, replay_dir, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = jobs.to_parquet_sink(
        _stream(spark, replay_dir).select("event_id", "ts", "user_id"), out, ckpt
    )
    q.awaitTermination()
    n = spark.read.parquet(out).count()
    assert n == load_table(spark, sf_dir, "events").count()


def test_console_sink_smoke(spark, replay_dir):
    q = jobs.to_console_sink(_stream(spark, replay_dir).limit(5))
    q.awaitTermination()


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once across restarts: run to a parquet sink with a
    checkpoint, add more input files, restart the query from the SAME
    checkpoint — the offset WAL must skip already-committed files and
    the final sink holds every event exactly once."""
    d = str(tmp_path / "replay")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).head()
    cut = lo + (hi - lo) / 2

    first = events.filter(F.col("ts") < cut)
    second = events.filter(F.col("ts") >= cut)
    first.coalesce(1).write.parquet(os.path.join(d, "chunk_000"))

    q1 = jobs.to_parquet_sink(replay.read_stream(spark, d).select("event_id", "ts"), out, ckpt)
    q1.awaitTermination()
    n_first = spark.read.parquet(out).count()
    assert n_first == first.count()

    second.coalesce(1).write.parquet(os.path.join(d, "chunk_001"))
    q2 = jobs.to_parquet_sink(replay.read_stream(spark, d).select("event_id", "ts"), out, ckpt)
    q2.awaitTermination()

    final = spark.read.parquet(out)
    assert final.count() == events.count(), "lost or duplicated events across restart"
    ids = final.select("event_id").collect()
    assert len({r.event_id for r in ids}) == len(ids), "duplicate event after recovery"


def test_cep_nfa_recovers_open_partials_across_restart(spark, sf_dir, tmp_path):
    """CEP checkpoint-recovery contract (VERDICT r07 #6): stop the NFA
    mid-stream with partials OPEN, restart from the same checkpoint,
    and the union of both runs' emissions must equal the uninterrupted
    batch shadow — proving the StateStore restore path the whole CEP
    tier relies on, including the round-8 VALUE segment of the state
    encoding (RELGUARD3 carries the anchor's value per partial)."""
    from hello_flink_spark.streaming.cep import RELGUARD3, compile_stream

    d = str(tmp_path / "replay")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).head()
    cut = lo + (hi - lo) / 2

    events.filter(F.col("ts") < cut).coalesce(1).write.parquet(
        os.path.join(d, "chunk_000")
    )
    q1 = jobs.to_parquet_sink(
        compile_stream(RELGUARD3, replay.read_stream(spark, d), WM), out, ckpt
    )
    q1.awaitTermination()
    n_run1 = spark.read.parquet(out).count()

    events.filter(F.col("ts") >= cut).coalesce(1).write.parquet(
        os.path.join(d, "chunk_001")
    )
    q2 = jobs.to_parquet_sink(
        compile_stream(RELGUARD3, replay.read_stream(spark, d), WM), out, ckpt
    )
    q2.awaitTermination()

    cols = ("user_id", "view_id", "view_ts", "view_value", "click_ts", "purchase_ts")
    final = spark.read.parquet(out).collect()
    got = sorted(tuple(r[c] for c in cols) for r in final)
    assert len(got) == len(set(got)), "duplicate match after recovery"
    want = sorted(
        tuple(r[c] for c in cols)
        for r in get_spec("cep_pattern_relative_guard").fn(spark, sf_dir).collect()
    )
    assert got == want, "recovered NFA diverged from the uninterrupted shadow"
    # non-vacuity: the restart must actually have completed matches
    # from partials that were open at the cut
    spanning = [g for g in got if g[2] < cut <= g[5]]
    assert n_run1 < len(got), "no match completed after the restart"
    assert spanning, "no match spans the cut — the restart proved nothing"


def test_windowed_topn_materialization(spark, sf_dir, replay_dir, tmp_path):
    """Windowed Top-N (Flink SQL's continuous rank view): complete-mode
    tumbling counts + foreachBatch rank-overwrite must end exactly at
    the batch shadow's top-3 per window."""
    target = str(tmp_path / "topn")
    q = jobs.to_foreach_batch(
        jobs.tumbling_counts(_stream(spark, replay_dir), WM),
        jobs.windowed_topn_foreach_batch(target, n=3),
        checkpoint=str(tmp_path / "ckpt"),
        output_mode="complete",
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.event_type): r.cnt
        for r in spark.read.parquet(target).collect()
    }
    shadow = get_spec("window_tumbling").fn(spark, sf_dir)
    w = Window.partitionBy("window_start").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )
    want = {
        (r.window_start, r.event_type): r.cnt
        for r in shadow.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    }
    assert got == want


def test_windowed_state_recovers_across_restart(spark, sf_dir, tmp_path):
    """Stateful-operator recovery: a tumbling aggregation run in two
    availableNow sessions over the SAME checkpoint must merge events
    from both runs into single window rows — the window spanning the
    input cut is emitted once with the full count, and every emitted
    window matches the full-data batch shadow."""
    d = str(tmp_path / "replay")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).head()
    cut = lo + (hi - lo) / 2

    events.filter(F.col("ts") < cut).coalesce(1).write.parquet(os.path.join(d, "chunk_000"))
    q1 = jobs.to_parquet_sink(
        jobs.tumbling_counts(replay.read_stream(spark, d), WM), out, ckpt
    )
    q1.awaitTermination()

    events.filter(F.col("ts") >= cut).coalesce(1).write.parquet(os.path.join(d, "chunk_001"))
    q2 = jobs.to_parquet_sink(
        jobs.tumbling_counts(replay.read_stream(spark, d), WM), out, ckpt
    )
    q2.awaitTermination()

    emitted = spark.read.parquet(out).collect()
    keys = [(r.window_start, r.event_type) for r in emitted]
    assert len(keys) == len(set(keys)), "window emitted twice across restart"
    want = {
        (r.window_start, r.event_type): (r.cnt, r.total_value)
        for r in get_spec("window_tumbling").fn(spark, sf_dir).collect()
    }
    for r in emitted:
        assert want[(r.window_start, r.event_type)] == (r.cnt, r.total_value), (
            f"window {r.window_start}/{r.event_type} differs from full-data shadow"
        )
    import datetime as dt

    cut_window = cut - dt.timedelta(
        minutes=cut.minute % 10, seconds=cut.second, microseconds=cut.microsecond
    )
    assert any(r.window_start == cut_window for r in emitted), (
        "cut-spanning window never finalized — state did not merge across restart"
    )


def test_foreach_batch_upsert(spark, sf_dir, replay_dir, tmp_path):
    """sink_foreach_batch: keyed upsert — final table holds exactly the
    latest running total per user == the batch aggregate."""
    target = str(tmp_path / "upsert_target")
    fn = jobs.upsert_by_key_foreach_batch(target, key="user_id")
    q = jobs.to_foreach_batch(
        jobs.running_totals(_stream(spark, replay_dir)),
        fn,
        checkpoint=str(tmp_path / "ckpt"),
        output_mode="update",
    )
    q.awaitTermination()
    final = spark.read.parquet(target)
    got = {r.user_id: r.event_cnt for r in final.collect()}
    want = {
        r.user_id: r.event_cnt
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("event_cnt"))
        .collect()
    }
    assert got == want


def _markov_stream_totals(spark, d, table):
    run_to_memory(
        stateful.stateful_markov_transitions(replay.read_stream(spark, d)),
        table,
        "append",
    )
    return {
        (r.prev_type, r.next_type): r.total
        for r in spark.table(table)
        .filter(F.col("user_id") >= 0)  # sentinel flush rows out
        .groupBy("prev_type", "next_type")
        .agg(F.sum("cnt").alias("total"))
        .collect()
    }


def test_stateful_markov_matches_batch_shadow(spark, sf_dir, flush_replay_dir):
    """Summed per-batch transition deltas must equal the batch
    shadow's transition counts exactly (state carries the last event
    type across micro-batch boundaries, so cross-chunk transitions
    are counted too; the sentinel flush chunk drains the reorder
    buffer's tail, as a real watermark advance would)."""
    got = _markov_stream_totals(spark, flush_replay_dir[0], "t_markov")
    want = {
        (r.prev_type, r.next_type): r.cnt
        for r in get_spec("events_markov_transitions").fn(spark, sf_dir).collect()
    }
    assert got, "no transitions emitted"
    assert got == want


def test_stateful_markov_reorders_within_delay(spark, sf_dir, ooo_flush_replay_dir):
    """VERDICT r07 #7 (the residual is GONE): events arriving one
    micro-batch late but INSIDE the watermark delay must fold in true
    event-time order — the summed deltas equal the FULL batch shadow,
    which arrival-order folding provably misses on this fixture."""
    d, info = ooo_flush_replay_dir
    got = _markov_stream_totals(spark, d, "t_markov_ooo")
    want = {
        (r.prev_type, r.next_type): r.cnt
        for r in get_spec("events_markov_transitions").fn(spark, sf_dir).collect()
    }
    assert info["n_deferred"] > 0
    assert got == want


def _burst_final_per_user(spark, table: str) -> dict:
    """Final per-user running max from an emitted update-mode burst
    table (sentinel flush keys excluded)."""
    return {
        r.user_id: r.max_burst_24h
        for r in spark.table(table)
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(F.max("max_burst_24h").alias("max_burst_24h"))
        .collect()
    }


def _burst_batch_shadow(spark, sf_dir) -> dict:
    """The batch RANGE-frame shadow: per-user maximum rolling-24 h
    event count over floored epoch seconds — the arithmetic
    stateful_burst_detector carries incrementally. Shared by the
    in-order, out-of-order and upgrade-recipe burst goldens (one
    definition, so the three can never drift apart)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-86399, Window.currentRow)
    )
    return {
        r.user_id: r.m
        for r in e.select(
            "user_id", F.floor(F.col("ts").cast("double")).cast("long").alias("s")
        )
        .withColumn("c", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(F.max("c").alias("m"))
        .collect()
    }


def test_burst_detector_equals_batch_shadow(spark, sf_dir, flush_replay_dir):
    """stateful_burst_detector: the final per-user running max must
    equal the batch shadow's rolling-24h maximum for every user, and
    the >= 6 cohort must match events_bot_burst exactly."""
    run_to_memory(
        stateful.stateful_burst_detector(_stream(spark, flush_replay_dir)),
        "t_burst",
        "update",
    )
    got = _burst_final_per_user(spark, "t_burst")
    want = _burst_batch_shadow(spark, sf_dir)
    assert got == want
    from hello_flink_spark.registry import get_spec

    shadow = {
        (r.user_id, r.max_burst_24h)
        for r in get_spec("events_bot_burst").fn(spark, sf_dir).collect()
    }
    assert {(u, m) for u, m in got.items() if m >= 6} == shadow


def test_burst_detector_reorders_within_delay(spark, sf_dir, ooo_flush_replay_dir):
    """VERDICT r07 #7: within-delay out-of-order rows fold through the
    reorder buffer in event-time order, so the final per-user running
    max equals the FULL batch RANGE-frame shadow — no row can land
    behind the pruned horizon."""
    d, info = ooo_flush_replay_dir
    run_to_memory(
        stateful.stateful_burst_detector(replay.read_stream(spark, d)),
        "t_burst_ooo",
        "update",
    )
    got = _burst_final_per_user(spark, "t_burst_ooo")
    want = _burst_batch_shadow(spark, sf_dir)
    assert info["n_deferred"] > 0
    assert got == want


def test_cep_repeated_type_equals_batch_shadow(spark, sf_dir, replay_dir):
    """Repeated-type pattern (view followedBy view): the NFA's
    one-step-per-event rule must reproduce the batch chain exactly —
    the case where a single event both completes a pending partial
    and anchors a new one."""
    from hello_flink_spark.streaming.cep import REPEAT2, compile_stream

    run_to_memory(compile_stream(REPEAT2, _stream(spark, replay_dir), WM), "t_cepr")
    got = sorted(
        (r.user_id, r.view_id, r.s1_view_ts, r.s2_view_ts)
        for r in spark.table("t_cepr").collect()
    )
    want = sorted(
        (r.user_id, r.view_id, r.s1_view_ts, r.s2_view_ts)
        for r in get_spec("cep_pattern_repeat").fn(spark, sf_dir).collect()
    )
    assert got and got == want


def test_count_min_stream_equals_batch_sketch(spark, sf_dir, replay_dir):
    """Streaming CM sketch (last update per cell) must equal the batch
    sketch CELL-EXACTLY (counts are exact per cell; only the probe is
    approximate), and probing the streamed cells for agg_count_min's
    top-10 users must reproduce the declared op's estimates."""
    import hashlib

    run_to_memory(jobs.count_min_cells(_stream(spark, replay_dir)), "t_cm", "update")
    emitted = spark.table("t_cm")
    final = emitted.groupBy("d", "bucket").agg(F.max("s").alias("s"))
    got = {(r.d, r.bucket): r.s for r in final.collect()}

    e = load_table(spark, sf_dir, "events")
    want_df = (
        e.select(F.explode(F.sequence(F.lit(0), F.lit(3))).alias("d"), "user_id")
        .withColumn(
            "bucket",
            F.substring(F.md5(F.concat_ws(":", F.col("d"), F.col("user_id"))), 1, 2),
        )
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("s"))
    )
    want = {(r.d, r.bucket): r.s for r in want_df.collect()}
    assert got == want

    batch = get_spec("agg_count_min").fn(spark, sf_dir).collect()
    assert batch
    for r in batch:
        probe = min(
            got[(d, hashlib.md5(f"{d}:{r.user_id}".encode()).hexdigest()[:2])]
            for d in range(4)
        )
        assert probe == r.est_cnt, (r.user_id, probe, r.est_cnt)


def test_rolling_wau_hll_stream_equals_batch(spark, sf_dir, replay_dir):
    """Streaming WAU sketches (last update per report day) must equal
    the batch HLL estimates exactly — HLL union is order-independent,
    so micro-batch merge order cannot change the registers — and the
    sketch estimate must sit within 5% of the exact distinct count."""
    run_to_memory(jobs.rolling_wau_hll(_stream(spark, replay_dir)), "t_wau", "update")
    emitted = spark.table("t_wau")
    # update mode re-emits a day each time its sketch grows; the final
    # estimate per day is the max (WAU estimates only grow)
    got = {
        r.report_day: r.wau_est
        for r in emitted.groupBy("report_day").agg(F.max("wau_est").alias("wau_est")).collect()
    }

    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.date_trunc("day", F.col("ts")).alias("day")).distinct()
    contrib = ud.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"), "day"
    ).select(
        "user_id", F.timestamp_add("DAY", F.col("off"), F.col("day")).alias("report_day")
    )
    want = {
        r.report_day: r.wau_est
        for r in contrib.groupBy("report_day")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("wau_est"))
        .collect()
    }
    assert got == want

    exact = {
        r.report_day: r.wau
        for r in contrib.groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .collect()
    }
    for day, est in want.items():
        assert abs(est - exact[day]) <= max(0.05 * exact[day], 2), (day, est, exact[day])


def test_cep_timeout_side_output(spark, sf_dir, replay_dir):
    """Flink's timed-out-pattern side output, compiled: the streaming
    NFA's matched rows must equal the batch shadow's matched rows
    EXACTLY; its timeout rows must be a subset of the batch shadow's
    unmatched rows (same anchor, same stage prefix); and every batch
    timeout whose expiry precedes the last-batch-start watermark must
    have been emitted (quantified boundary: only partials still within
    window at end-of-replay may remain unemitted in state)."""
    from hello_flink_spark.streaming.cep import (
        FUNNEL4,
        compile_batch_timeouts,
        compile_stream_timeouts,
    )

    run_to_memory(
        compile_stream_timeouts(FUNNEL4, _stream(spark, replay_dir)), "t_cep_to", "append"
    )
    got = spark.table("t_cep_to").toPandas()
    want = compile_batch_timeouts(
        FUNNEL4, load_table(spark, sf_dir, "events")
    ).toPandas()

    ts_cols = [FUNNEL4.ts_col(i) for i in range(len(FUNNEL4.steps))]

    def keyset(pdf):
        return {
            (r.user_id, getattr(r, FUNNEL4.anchor_col))
            + tuple(None if pd.isna(getattr(r, c)) else getattr(r, c) for c in ts_cols)
            for r in pdf.itertuples()
        }

    import pandas as pd

    got_m, got_t = got[got["matched"]], got[~got["matched"]]
    want_m, want_t = want[want["matched"]], want[~want["matched"]]
    assert keyset(got_m) == keyset(want_m)
    assert keyset(got_t) <= keyset(want_t)
    assert len(got_t), "no timeout rows emitted at all"

    # quantified boundary: the watermark the final batch starts with is
    # (max ts of the first n-1 chunks) - 30 min; every batch timeout
    # already expired by then must have been emitted by the NFA.
    import glob
    import os

    chunk_dirs = sorted(glob.glob(os.path.join(replay_dir[0], "chunk_*")))
    wm = (
        spark.read.parquet(*chunk_dirs[:-1])
        .agg(F.max("ts").alias("m"))
        .head()
        .m
        - pd.Timedelta("30 minutes")
    )
    window = pd.Timedelta(minutes=FUNNEL4.within_minutes)
    got_keys = keyset(got_t)
    missed = []
    for row in want_t.itertuples():
        prefix = [getattr(row, c) for c in ts_cols]
        last = max(t for t in prefix if not pd.isna(t))
        if last + window < wm:
            key = (row.user_id, getattr(row, FUNNEL4.anchor_col)) + tuple(
                None if pd.isna(t) else t for t in prefix
            )
            if key not in got_keys:
                missed.append(key)
    assert not missed, f"{len(missed)} expired partials never emitted: {missed[:3]}"


def test_cep_timeout_guarded_oracle_parity(spark, sf_dir):
    """Guard tier × timeout tier interplay: the LEFT-join timeout
    chain for the GUARDED pattern (purchase >= 100) must match its
    generated DuckDB oracle — an event failing the value guard must
    not complete a funnel, leaving a matched=false prefix instead."""
    from hello_flink_spark.oracle import compare, duck_connection
    from hello_flink_spark.streaming.cep import (
        GUARDED3,
        compile_batch_timeouts,
        oracle_sql_timeouts,
    )

    got = compile_batch_timeouts(GUARDED3, load_table(spark, sf_dir, "events"))
    result = compare(
        "cep_timeout_guarded",
        got,
        oracle_sql_timeouts(GUARDED3),
        duck_connection(sf_dir),
    )
    assert result.ok, result.detail


def test_stream_temporal_join_equals_batch(spark, sf_dir, tmp_path):
    """Streaming temporal table join: odd-orderkey probes replayed as
    a 4-chunk file stream, enriched AS OF their order date against the
    static SCD2 dim built from the even half — the streamed result
    must equal the declared batch query join_temporal_table exactly
    (stream-static joins are stateless, so bounded replay loses no
    rows)."""
    import os

    orders = load_table(spark, sf_dir, "orders")
    probes = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    qs = probes.approxQuantile("o_orderkey", [0.25, 0.5, 0.75], 0.0)
    bounds = [float("-inf")] + qs + [float("inf")]
    d = str(tmp_path / "orders_replay")
    for i in range(4):
        probes.filter(
            (F.col("o_orderkey") > bounds[i]) & (F.col("o_orderkey") <= bounds[i + 1])
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, f"chunk_{i:03d}"))

    stream = (
        spark.readStream.schema(probes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "chunk_*", "*.parquet"))
    )
    even = orders.filter(F.col("o_orderkey") % 2 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    feed = even.select(
        "o_custkey",
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.lag("o_orderstatus").over(w).alias("prev_status"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("ts", "o_orderkey")
    dim = feed.filter(
        F.col("prev_status").isNull() | (F.col("status") != F.col("prev_status"))
    ).select(
        F.col("o_custkey").alias("cust_key"),
        "status",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )

    run_to_memory(jobs.stream_temporal_join(stream, dim), "t_tmp_join", "append")
    got = sorted(map(tuple, spark.table("t_tmp_join").collect()))
    want = sorted(map(tuple, get_spec("join_temporal_table").fn(spark, sf_dir).collect()))
    assert got == want


def test_running_quantiles_stream_equals_batch(spark, sf_dir, replay_dir):
    """Streaming quantile sketch (complete mode — the memory sink holds
    the latest full result) must equal the declared
    agg_approx_quantile_merge twin exactly at this scale (accuracy
    10000 > per-type n ⇒ the GK summary never compresses and merge
    order cannot matter), be internally ordered (p50 ≤ p90 ≤ p99), and
    sit within the sketch's rank-error bound of the exact quantiles."""
    import numpy as np

    run_to_memory(jobs.running_quantiles(_stream(spark, replay_dir)), "t_q", "complete")
    got = {
        r.event_type: (r.p50, r.p90, r.p99) for r in spark.table("t_q").collect()
    }
    want = {
        r.event_type: (r.p50, r.p90, r.p99)
        for r in get_spec("agg_approx_quantile_merge").fn(spark, sf_dir).collect()
    }
    assert got == want

    vals: dict[str, list[float]] = {}
    for r in load_table(spark, sf_dir, "events").select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    for et, (p50, p90, p99) in got.items():
        assert p50 <= p90 <= p99
        xs = np.sort(np.asarray(vals[et]))
        n = len(xs)
        for q, est in ((0.5, p50), (0.9, p90), (0.99, p99)):
            # rank error <= 1/accuracy (plus rounding): the estimate must
            # be an actual element within a small rank band of target
            rank = np.searchsorted(xs, est, side="left")
            target = q * (n - 1)
            assert abs(rank - target) <= max(2, n / 10000 + 2), (et, q, est)


def test_cep_absence_not_followed_by(spark, sf_dir, replay_dir):
    """Flink CEP `notFollowedBy` terminal step, compiled via the
    timeout machinery: (1) every batch absence row is genuinely absent
    — NO purchase exists for that user in (click_ts, click_ts+window]
    in the raw events (direct semantic check, independent of the
    compiler); (2) the streaming rows are a subset of the batch rows;
    (3) every batch absence whose window expired before the final
    watermark was emitted by the NFA (absence is undecidable before
    the window closes, so only still-open windows may be pending)."""
    import glob
    import os

    import pandas as pd

    from hello_flink_spark.streaming.cep import (
        ABSENCE3,
        compile_batch_absence,
        compile_stream_absence,
    )

    events = load_table(spark, sf_dir, "events")
    want = compile_batch_absence(ABSENCE3, events).toPandas()
    assert len(want), "absence fixture is vacuous"
    window = pd.Timedelta(minutes=ABSENCE3.within_minutes)
    click_col = ABSENCE3.ts_col(1)

    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .toPandas()
    )
    by_user = {u: g["ts"].to_numpy() for u, g in purchases.groupby("user_id")}
    for r in want.itertuples():
        c = getattr(r, click_col)
        ps = by_user.get(r.user_id, [])
        hits = [t for t in ps if c < t <= c + window]
        assert not hits, f"user {r.user_id}: purchase {hits[0]} inside window of {c}"

    run_to_memory(
        compile_stream_absence(ABSENCE3, _stream(spark, replay_dir)), "t_cep_abs", "append"
    )
    got = spark.table("t_cep_abs").toPandas()
    cols = ["user_id", ABSENCE3.anchor_col, ABSENCE3.ts_col(0), click_col]

    def keyset(pdf):
        return {tuple(getattr(r, c) for c in cols) for r in pdf.itertuples()}

    got_keys, want_keys = keyset(got), keyset(want)
    assert got_keys <= want_keys

    chunk_dirs = sorted(glob.glob(os.path.join(replay_dir[0], "chunk_*")))
    wm = (
        spark.read.parquet(*chunk_dirs[:-1]).agg(F.max("ts").alias("m")).head().m
        - pd.Timedelta("30 minutes")
    )
    missed = [
        k
        for r in want.itertuples()
        if getattr(r, click_col) + window < wm
        and (k := tuple(getattr(r, c) for c in cols)) not in got_keys
    ]
    assert not missed, f"{len(missed)} decided absences never emitted: {missed[:3]}"


def test_cep_one_or_more_kleene_run(spark, sf_dir, replay_dir):
    """Flink CEP oneOrMore (reluctant Kleene plus), compiled: the
    streamed ONEPLUS3 matches (view, then a click RUN — each click
    within the window of the last — then purchase) must equal an
    independent per-anchor simulation over the raw events, including
    the n_rep run lengths; at least one genuine multi-click run must
    exist or the fixture is vacuous for this feature."""
    from hello_flink_spark.streaming.cep import ONEPLUS3, compile_stream

    run_to_memory(
        compile_stream(ONEPLUS3, _stream(spark, replay_dir)), "t_cep_1p", "append"
    )
    cols = [ONEPLUS3.ts_col(i) for i in range(3)]
    got = sorted(
        (
            r.user_id,
            getattr(r, ONEPLUS3.anchor_col),
            *(getattr(r, c) for c in cols),
            r.n_rep,
        )
        for r in spark.table("t_cep_1p").collect()
    )

    # shared semantics oracle (same module the hypothesis NFA tests
    # pin): generic over timestamp type, so datetimes + a timedelta
    # window replay the exact simulation the property tests run on ints
    import datetime as dt

    from test_properties import _oneplus_sim

    evs = sorted(
        (
            (r.user_id, r.event_id, r.ts, r.event_type)
            for r in load_table(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("view", "click", "purchase"))
            .collect()
        ),
        key=lambda x: (x[2], x[1]),
    )
    want = _oneplus_sim(
        evs,
        ONEPLUS3.steps,
        ONEPLUS3.one_or_more,
        dt.timedelta(minutes=ONEPLUS3.within_minutes),
    )

    assert got == want
    assert any(n >= 2 for *_, n in got), "no multi-repetition run in fixture"


def test_cep_absence_composes_with_kleene(spark, sf_dir, replay_dir):
    """notFollowedBy × oneOrMore orthogonality: the absence stream of
    the Kleene pattern (view, then a click RUN, then NO purchase
    within the window of the last click) must emit only rows whose
    click run is real (n_rep >= 1) and for which the raw events truly
    contain no purchase inside the window of the last accepted click."""
    import datetime as dt

    from hello_flink_spark.streaming.cep import ONEPLUS3, compile_stream_absence

    run_to_memory(
        compile_stream_absence(ONEPLUS3, _stream(spark, replay_dir)),
        "t_cep_1p_abs",
        "append",
    )
    rows = spark.table("t_cep_1p_abs").collect()
    assert rows, "no decided absences in fixture"
    click_col = ONEPLUS3.ts_col(1)
    window = dt.timedelta(minutes=ONEPLUS3.within_minutes)

    purchases = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .collect()
    ):
        purchases.setdefault(r.user_id, []).append(r.ts)
    for r in rows:
        assert r.n_rep >= 1
        last_click = getattr(r, click_col)
        hits = [
            t for t in purchases.get(r.user_id, []) if last_click < t <= last_click + window
        ]
        assert not hits, f"user {r.user_id}: purchase {hits[0]} inside window"


def test_cep_optional_step_stream_equals_batch(spark, sf_dir, replay_dir):
    """Flink CEP optional(), compiled: the streamed OPT3 matches
    (signup, optionally a view, then purchase — first-event-wins) must
    equal the batch join-chain shadow exactly, with BOTH outcomes
    present in the fixture: taken views (view_ts set, purchase windowed
    from the view) and skipped views (view_ts NULL, purchase windowed
    from the signup)."""
    from hello_flink_spark.streaming.cep import OPT3, compile_batch, compile_stream

    run_to_memory(
        compile_stream(OPT3, _stream(spark, replay_dir)), "t_cep_opt", "append"
    )
    cols = [OPT3.ts_col(i) for i in range(3)]

    def keyset(rows):
        return sorted(
            (r.user_id, getattr(r, OPT3.anchor_col), *(getattr(r, c) for c in cols))
            for r in rows
        )

    got = keyset(spark.table("t_cep_opt").collect())
    want = keyset(compile_batch(OPT3, load_table(spark, sf_dir, "events")).collect())
    assert got == want
    view_col = OPT3.ts_col(1)
    taken = [r for r in got if r[3] is not None]
    skipped = [r for r in got if r[3] is None]
    assert taken, "no taken-view matches in fixture"
    assert skipped, "no skipped-view matches in fixture"


# ---------------------------------------------------------------------------
# round-7 CEP tiers (times(n) / pattern-global within / strict next() /
# timesOrMore / AfterMatchSkipStrategy) — streaming/cep.py
# ---------------------------------------------------------------------------


def test_cep_times_equals_batch_shadow(spark, sf_dir, replay_dir):
    """times(2) ([F] Pattern#times): the quantifier expansion through
    the NFA must equal the declared batch chain, stage-prefixed
    columns included."""
    from hello_flink_spark.streaming.cep import TIMES3, compile_stream

    run_to_memory(compile_stream(TIMES3, _stream(spark, replay_dir), WM), "t_cept")
    cols = ("user_id", "view_id", "view_ts", "s2_click_ts", "s3_click_ts", "purchase_ts")
    got = sorted(tuple(r[c] for c in cols) for r in spark.table("t_cept").collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in get_spec("cep_pattern_times").fn(spark, sf_dir).collect()
    )
    assert got and got == want


def test_cep_within_total_equals_batch_shadow(spark, sf_dir, replay_dir):
    """Pattern-global within ([F] Pattern#within): NFA anchor-based
    expiry == batch chain's anchor-ts predicate — and the result
    PROVABLY differs from the per-stage-only twin on this fixture, so
    the bound is exercised."""
    from hello_flink_spark.streaming.cep import (
        CepPattern,
        TOTAL3,
        compile_batch,
        compile_stream,
    )

    run_to_memory(compile_stream(TOTAL3, _stream(spark, replay_dir), WM), "t_ceptw")
    cols = ("user_id", "view_id", "view_ts", "click_ts", "purchase_ts")
    got = sorted(tuple(r[c] for c in cols) for r in spark.table("t_ceptw").collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in get_spec("cep_pattern_within_total").fn(spark, sf_dir).collect()
    )
    assert got and got == want
    per_stage_only = CepPattern(steps=TOTAL3.steps, within_minutes=TOTAL3.within_minutes)
    n_unbounded = compile_batch(per_stage_only, load_table(spark, sf_dir, "events")).count()
    assert n_unbounded > len(got), "total bound is vacuous on this fixture"


def test_cep_strict_equals_batch_shadow(spark, sf_dir, replay_dir):
    """Strict contiguity ([F] next()): the NFA's grouped pending-kill
    over the UNFILTERED event stream must equal the batch
    first-any-vs-first-matching chain."""
    from hello_flink_spark.streaming.cep import STRICT3, compile_stream

    run_to_memory(compile_stream(STRICT3, _stream(spark, replay_dir), WM), "t_cepsx")
    cols = ("user_id", "view_id", "view_ts", "click_ts", "purchase_ts")
    got = sorted(tuple(r[c] for c in cols) for r in spark.table("t_cepsx").collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in get_spec("cep_pattern_strict").fn(spark, sf_dir).collect()
    )
    assert got and got == want


def test_cep_rel_guard_equals_batch_shadow(spark, sf_dir, replay_dir):
    """IterativeCondition ([F]): the NFA's per-partial value guard
    (state carries accepted values) must equal the batch chain's
    carried-column join predicate — including the anchor-value output
    column — and the guard must be non-vacuous on this fixture."""
    from hello_flink_spark.streaming.cep import (
        CepPattern,
        RELGUARD3,
        compile_batch,
        compile_stream,
    )

    run_to_memory(compile_stream(RELGUARD3, _stream(spark, replay_dir), WM), "t_ceprg")
    cols = ("user_id", "view_id", "view_ts", "view_value", "click_ts", "purchase_ts")
    got = sorted(tuple(r[c] for c in cols) for r in spark.table("t_ceprg").collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in get_spec("cep_pattern_relative_guard").fn(spark, sf_dir).collect()
    )
    assert got and got == want
    unguarded = CepPattern(
        steps=RELGUARD3.steps, within_minutes=RELGUARD3.within_minutes
    )
    n_unguarded = compile_batch(unguarded, load_table(spark, sf_dir, "events")).count()
    assert n_unguarded > len(got), "relative guard is vacuous on this fixture"


def test_cep_any_match_equals_batch_shadow(spark, sf_dir, replay_dir):
    """followedByAny ([F]): the NFA's branch-spawning promotion (the
    waiting partial stays armed) must equal the batch chain's
    no-MIN-collapse band join — and the branch fan-out must be
    non-vacuous vs the first-match twin on this fixture."""
    from hello_flink_spark.streaming.cep import (
        ANYCLICK3,
        CepPattern,
        compile_batch,
        compile_stream,
    )

    run_to_memory(compile_stream(ANYCLICK3, _stream(spark, replay_dir), WM), "t_cepam")
    cols = ("user_id", "view_id", "view_ts", "click_ts", "purchase_ts")
    got = sorted(tuple(r[c] for c in cols) for r in spark.table("t_cepam").collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in get_spec("cep_pattern_followed_by_any").fn(spark, sf_dir).collect()
    )
    assert got and got == want
    first_match = CepPattern(
        steps=ANYCLICK3.steps, within_minutes=ANYCLICK3.within_minutes
    )
    n_first = compile_batch(first_match, load_table(spark, sf_dir, "events")).count()
    assert len(got) > n_first, "any-match fan-out is vacuous on this fixture"


def _events_as_tuples(spark, sf_dir):
    """Fixture events as time-ordered (uid, eid, ts_us, etype) tuples
    for the pure-python CEP reference models (µs units end-to-end)."""
    rows = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    ).collect()
    evs = [
        (r.user_id, r.event_id, int(r.ts.timestamp() * 1_000_000), r.event_type)
        for r in rows
    ]
    evs.sort(key=lambda x: (x[2], x[1]))
    return evs


def test_cep_timesormore_golden_vs_simulation(spark, sf_dir, replay_dir):
    """timesOrMore(2) ([F] Pattern#timesOrMore) on the real fixture
    replay: the NFA (no batch shadow exists — variable-length runs)
    must equal the independent per-anchor simulation, n_rep >= 2
    everywhere."""
    from tests.test_properties import _timesormore_sim

    from hello_flink_spark.streaming.cep import TWOPLUS3, compile_stream

    run_to_memory(compile_stream(TWOPLUS3, _stream(spark, replay_dir), WM), "t_cep2p")
    got = sorted(
        (
            r.user_id,
            r.view_id,
            int(r.view_ts.timestamp() * 1_000_000),
            int(r.click_ts.timestamp() * 1_000_000),
            int(r.purchase_ts.timestamp() * 1_000_000),
            r.n_rep,
        )
        for r in spark.table("t_cep2p").collect()
    )
    evs = _events_as_tuples(spark, sf_dir)
    want = _timesormore_sim(
        evs, TWOPLUS3.steps, 1, TWOPLUS3.window_us, TWOPLUS3.min_reps
    )
    assert got and got == want
    assert all(r[-1] >= 2 for r in got)


def test_cep_skip_past_last_golden_vs_simulation(spark, sf_dir, replay_dir):
    """skipPastLastEvent on the real fixture replay: the NFA must
    equal the sequential reference model, matches must be
    non-overlapping per user, and there must be strictly fewer matches
    than the no-skip twin emits (the strategy is exercised)."""
    from tests.test_properties import _skip_sim

    from hello_flink_spark.streaming.cep import CepPattern, SKIP3, compile_batch, compile_stream

    run_to_memory(compile_stream(SKIP3, _stream(spark, replay_dir), WM), "t_cepskip")
    got = sorted(
        (
            r.user_id,
            r.view_id,
            int(r.view_ts.timestamp() * 1_000_000),
            int(r.click_ts.timestamp() * 1_000_000),
            int(r.purchase_ts.timestamp() * 1_000_000),
        )
        for r in spark.table("t_cepskip").collect()
    )
    evs = _events_as_tuples(spark, sf_dir)
    want = _skip_sim(evs, SKIP3.steps, SKIP3.window_us)
    assert got and got == want
    # non-overlapping per user: each match's anchor starts after the
    # previous match's final event
    by_user: dict = {}
    for u, _aid, t0, _t1, t2 in got:
        by_user.setdefault(u, []).append((t0, t2))
    for spans in by_user.values():
        spans.sort()
        for (a0, a2), (b0, _b2) in zip(spans, spans[1:]):
            assert b0 > a2
    no_skip = CepPattern(steps=SKIP3.steps, within_minutes=SKIP3.within_minutes)
    n_all = compile_batch(no_skip, load_table(spark, sf_dir, "events")).count()
    assert n_all > len(got), "skip strategy is vacuous on this fixture"


def test_stateful_markov_late_rows_dropped(spark, sf_dir, late_flush_replay_dir):
    """VERDICT r06 #4: the watermark gate makes the markov contract
    exact under late data — the withheld early slice arrives after the
    watermark passed it, is dropped before counting, and the summed
    deltas equal the batch shadow over the NON-LATE rows (no
    arrival-order splice)."""
    d, info = late_flush_replay_dir
    got = _markov_stream_totals(spark, d, "t_markov_late")
    e = load_table(spark, sf_dir, "events").filter(
        ~F.col("event_id").isin(info["late_ids"])
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    want = {
        (r.prev_type, r.next_type): r.cnt
        for r in seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got, "no transitions emitted"
    assert got == want
    # the gate actually dropped something: the unfiltered shadow differs
    full = {
        (r.prev_type, r.next_type): r.cnt
        for r in get_spec("events_markov_transitions").fn(spark, sf_dir).collect()
    }
    assert got != full


def test_burst_detector_late_rows_dropped(spark, sf_dir, late_flush_replay_dir):
    """VERDICT r06 #4: burst detector under late data — the late slice
    cannot land behind the pruned horizon; the streamed running max
    equals the batch RANGE frame over the NON-LATE rows for every
    emitted user, and users whose every event was late emit nothing."""
    d, info = late_flush_replay_dir
    run_to_memory(
        stateful.stateful_burst_detector(replay.read_stream(spark, d)),
        "t_burst_late",
        "update",
    )
    got = {
        r.user_id: r.max_burst_24h
        for r in spark.table("t_burst_late")
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(F.max("max_burst_24h").alias("max_burst_24h"))
        .collect()
    }
    e = load_table(spark, sf_dir, "events").filter(
        ~F.col("event_id").isin(info["late_ids"])
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-86399, Window.currentRow)
    )
    want = {
        r.user_id: r.m
        for r in e.select(
            "user_id", F.floor(F.col("ts").cast("double")).cast("long").alias("s")
        )
        .withColumn("c", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(F.max("c").alias("m"))
        .collect()
    }
    assert got == want


def test_stream_upsert_merge_out_of_order(spark, sf_dir, tmp_path):
    """Retraction fidelity as a TEST, not a doc (VERDICT r06 #3): keyed
    order-updates replayed OUT OF ORDER — a held-back slice of older
    updates arrives as the final micro-batch, after its keys were
    already merged with newer versions — through the foreachBatch MERGE
    sink. The version-guarded MERGE must leave the final table equal to
    the batch MERGE twin (latest order per customer, dim_scd1_upsert's
    ranking), i.e. every late older update is a no-op."""
    orders = load_table(spark, sf_dir, "orders")
    upd = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("last_priority"),
        F.round("o_totalprice", 2).alias("last_total"),
        (
            F.col("o_orderdate").cast("timestamp").cast("double").cast("long")
            * F.lit(10_000_000)
            + F.col("o_orderkey")
        ).alias("version"),
    )
    pdf = upd.toPandas().sort_values("version", ignore_index=True)
    n = len(pdf)
    q = n // 4
    early = pdf.iloc[: 3 * q]
    held = early.iloc[::7]  # older updates withheld until the very end
    flow = early.drop(held.index)
    chunks = [
        flow.iloc[:q],
        flow.iloc[q : 2 * q],
        flow.iloc[2 * q :],
        pdf.iloc[3 * q :],  # the newest quarter
        held,  # LATE: arrives after newer versions merged
    ]
    # non-vacuity: some held key was already merged with a NEWER version
    merged_newer = set()
    seen_max: dict = {}
    for c in chunks[:4]:
        for k, v in zip(c["custkey"], c["version"]):
            seen_max[k] = max(seen_max.get(k, 0), v)
    for k, v in zip(held["custkey"], held["version"]):
        if seen_max.get(k, 0) > v:
            merged_newer.add(k)
    assert merged_newer, "fixture produced no late-after-newer updates"

    d = str(tmp_path / "upd_replay")
    for i, c in enumerate(chunks):
        spark.createDataFrame(
            c, "custkey long, last_priority string, last_total double, version long"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, f"chunk_{i:03d}"))
    stream = (
        spark.readStream.schema(
            "custkey long, last_priority string, last_total double, version long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "chunk_*"))
    )
    target = str(tmp_path / "merge_target")
    q_ = jobs.to_foreach_batch(
        stream,
        jobs.upsert_by_key_foreach_batch(target, key="custkey", version_col="version"),
        checkpoint=str(tmp_path / "merge_ckpt"),
    )
    q_.awaitTermination()

    got = {
        r.custkey: (r.last_priority, r.last_total, r.version)
        for r in spark.read.parquet(target).collect()
    }
    wlast = Window.partitionBy("custkey").orderBy(F.col("version").desc())
    want = {
        r.custkey: (r.last_priority, r.last_total, r.version)
        for r in upd.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want
    # and the batch MERGE twin agrees: dim_scd1_upsert's update/insert
    # branches carry exactly these latest values per customer
    twin = {
        r.custkey: (r.last_priority, r.last_total)
        for r in get_spec("dim_scd1_upsert").fn(spark, sf_dir).collect()
        if r.op in ("update", "insert")
    }
    assert twin == {k: (p, t) for k, (p, t, _v) in got.items()}


def test_kafka_stub_option_plumbing(spark):
    """VERDICT r06 #7: close what CAN be closed without a broker. A
    recording double asserts the stub wires the canonical reader
    options exactly (format kafka, bootstrap servers, subscribe,
    startingOffsets); the real session asserts the connector-absent
    path converts to NotImplementedError carrying the deployment
    pointer (jar coordinates recipe: docs/STREAMING.md)."""

    class _Recorder:
        def __init__(self):
            self.fmt = None
            self.opts = {}

        def format(self, f):
            self.fmt = f
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def load(self):
            raise RuntimeError("connector jar absent")

    class _FakeSession:
        def __init__(self):
            self.readStream = _Recorder()

    fake = _FakeSession()
    with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
        jobs.kafka_source_stub(
            fake, "broker1:9092,broker2:9092", "events_topic", "latest"
        )
    rec = fake.readStream
    assert rec.fmt == "kafka"
    assert rec.opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "events_topic",
        "startingOffsets": "latest",
    }
    # default offset mode + the real session: the genuinely-missing
    # connector takes the same clear path
    fake2 = _FakeSession()
    with pytest.raises(NotImplementedError):
        jobs.kafka_source_stub(fake2, "localhost:9092", "t")
    assert fake2.readStream.opts["startingOffsets"] == "earliest"
    with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
        jobs.kafka_source_stub(spark, "localhost:9092", "t")


def test_stateful_ewma_equals_batch_shadow(spark, sf_dir, ooo_flush_replay_dir):
    """stateful_value_ewma: the final emitted running EWMA per user
    must equal the declared batch op bit-for-bit (same left-to-right
    double fold in EVENT-TIME order), n_events included — driven over
    the out-of-order-within-delay replay, which the round-8 reorder
    buffer must fold back into true time order (arrival-order folding
    provably diverges on a recurrence). The session sizes the state
    partitions to its cores: one task wave per micro-batch."""
    q = run_to_memory(
        stateful.stateful_value_ewma(_stream(spark, ooo_flush_replay_dir)),
        "t_ewma",
        "update",
    )
    cores = spark.sparkContext.defaultParallelism
    assert q.lastProgress.stateOperators[0].numShufflePartitions == cores
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(cores)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        spark.table("t_ewma")
        .filter(F.col("user_id") >= 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    got = {r.user_id: (r.n_events, round(r.ewma_value, 6)) for r in final.collect()}
    want = {
        r.user_id: (r.n_events, r.ewma_value)
        for r in get_spec("events_value_ewma").fn(spark, sf_dir).collect()
    }
    assert got == want


def test_stateful_delta_trigger_equals_batch_shadow(spark, sf_dir, ooo_flush_replay_dir):
    """stateful_delta_trigger: the full set of fire snapshots must
    equal the batch shadow events_delta_trigger row-for-row — driven
    over the out-of-order replay, which the reorder buffer must fold
    back into true (ts, event_id) order (the baseline recurrence
    diverges under arrival-order folding: a swapped pair can both
    change WHETHER a fire happens and the running totals it carries)."""
    run_to_memory(
        stateful.stateful_delta_trigger(_stream(spark, ooo_flush_replay_dir)),
        "t_dtrig",
    )
    got = {
        (r.user_id, r.fire_seq): (r.n_events, r.total_value, r.trigger_value)
        for r in spark.table("t_dtrig").filter(F.col("user_id") >= 0).collect()
    }
    want = {
        (r.user_id, r.fire_seq): (r.n_events, r.total_value, r.trigger_value)
        for r in get_spec("events_delta_trigger").fn(spark, sf_dir).collect()
    }
    assert got == want
    assert got, "no delta-trigger fires in the replay"


def test_stateful_cusum_equals_batch_shadow(spark, sf_dir, ooo_flush_replay_dir):
    """stateful_cusum: the full set of alarm rows must equal the batch
    shadow events_cusum_alarms row-for-row over the out-of-order
    replay — the post-alarm restart couples every step to the alarm
    history, so arrival-order folding diverges without the reorder
    buffer (a swapped pair can move an h-crossing across the restart
    boundary)."""
    run_to_memory(
        stateful.stateful_cusum(_stream(spark, ooo_flush_replay_dir)), "t_cusum"
    )
    got = {
        (r.user_id, r.alarm_seq): (r.n_events, r.cusum_stat, r.trigger_value)
        for r in spark.table("t_cusum").filter(F.col("user_id") >= 0).collect()
    }
    want = {
        (r.user_id, r.alarm_seq): (r.n_events, r.cusum_stat, r.trigger_value)
        for r in get_spec("events_cusum_alarms").fn(spark, sf_dir).collect()
    }
    assert got == want
    assert got, "no CUSUM alarms in the replay"


def test_stateful_autocorr_equals_batch_shadow(spark, sf_dir, ooo_flush_replay_dir):
    """stateful_autocorr: the final running lag-1 correlation per user
    must equal the declared batch op (within float tolerance — the
    incremental moments and the covar/stddev aggregates reduce in
    different orders), with exact n_pairs — over the out-of-order
    replay: LAG pairs are order-sensitive, so this pins the round-8
    reorder buffer on a second, moment-based fold."""
    run_to_memory(
        stateful.stateful_autocorr(_stream(spark, ooo_flush_replay_dir)),
        "t_acorr",
        "update",
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_pairs").desc())
    final = (
        spark.table("t_acorr")
        .filter(F.col("user_id") >= 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    got = {r.user_id: (r.n_pairs, r.lag1_autocorr) for r in final.collect()}
    want = {
        r.user_id: (r.n_pairs, r.lag1_autocorr)
        for r in get_spec("events_autocorrelation").fn(spark, sf_dir).collect()
    }
    assert got.keys() == want.keys()
    for u, (n, c) in want.items():
        gn, gc = got[u]
        assert gn == n, f"user {u}: pairs {gn} != {n}"
        if c is None:
            assert gc is None
        else:
            assert abs(gc - c) <= 1e-6, f"user {u}: {gc} vs {c}"


def test_cep_not_between_equals_batch_shadow(spark, sf_dir, replay_dir):
    """Mid-pattern notFollowedBy ([F]): the NFA's per-event kill must
    equal the declared batch two-MIN chain on the fixture replay, and
    the guard must be exercised (strictly fewer matches than the
    unguarded twin)."""
    from hello_flink_spark.streaming.cep import (
        CepPattern,
        NOBETWEEN2,
        compile_batch,
        compile_stream,
    )

    run_to_memory(compile_stream(NOBETWEEN2, _stream(spark, replay_dir), WM), "t_cepnb")
    cols = ("user_id", "view_id", "view_ts", "purchase_ts")
    got = sorted(tuple(r[c] for c in cols) for r in spark.table("t_cepnb").collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in get_spec("cep_pattern_not_between").fn(spark, sf_dir).collect()
    )
    assert got and got == want
    unguarded = CepPattern(
        steps=NOBETWEEN2.steps, within_minutes=NOBETWEEN2.within_minutes
    )
    n_all = compile_batch(unguarded, load_table(spark, sf_dir, "events")).count()
    assert n_all > len(got), "not_between guard is vacuous on this fixture"


def test_cep_not_next_equals_batch_shadow(spark, sf_dir, replay_dir):
    """notNext ([F]): the NFA's armed-guard sentinel over the
    UNFILTERED event stream must equal the declared batch chain on the
    fixture replay, and the guard must be exercised."""
    from hello_flink_spark.streaming.cep import (
        CepPattern,
        NONEXT2,
        compile_batch,
        compile_stream,
    )

    run_to_memory(compile_stream(NONEXT2, _stream(spark, replay_dir), WM), "t_cepnn")
    cols = ("user_id", "signup_id", "signup_ts", "purchase_ts")
    got = sorted(tuple(r[c] for c in cols) for r in spark.table("t_cepnn").collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in get_spec("cep_pattern_not_next").fn(spark, sf_dir).collect()
    )
    assert got and got == want
    unguarded = CepPattern(steps=NONEXT2.steps, within_minutes=NONEXT2.within_minutes)
    n_all = compile_batch(unguarded, load_table(spark, sf_dir, "events")).count()
    assert n_all > len(got), "not_next guard is vacuous on this fixture"


def _assert_funnel_matches_shadow(spark, sf_dir, info, table, label=""):
    """Shared verification for the session-funnel goldens (v1 and the
    upgrade-recipe twin): no double-emitted session key, the four
    batch-shadow counters match `events_session_funnel` exactly, and
    the replay actually exercised the reorder buffer."""
    rows = spark.table(table).filter(F.col("user_id") >= 0).collect()
    keys = [(r.user_id, r.session_start) for r in rows]
    assert len(keys) == len(set(keys)), "a session emitted twice"
    got = {
        "n_sessions": len(rows),
        "sessions_view": sum(1 for r in rows if r.reached_stage >= 1),
        "sessions_view_click": sum(1 for r in rows if r.reached_stage >= 2),
        "sessions_full_funnel": sum(1 for r in rows if r.reached_stage >= 3),
    }
    want = get_spec("events_session_funnel").fn(spark, sf_dir).collect()[0].asDict()
    assert info["n_deferred"] > 0
    assert got == want, f"{label}{got} != {want}"


def test_stateful_session_funnel_equals_batch_shadow(spark, sf_dir, ooo_flush_replay_dir):
    """stateful_session_funnel: every closed session's emitted
    (session_start, reached_stage) row, aggregated, must equal the
    batch query's four counters EXACTLY — driven over the
    out-of-order-within-delay replay (the funnel markers are
    order-sensitive chained MINs, so this pins the reorder buffer on
    a session-scoped state machine), with the sentinel flush chunk
    closing every trailing session."""
    d, info = ooo_flush_replay_dir
    run_to_memory(
        stateful.stateful_session_funnel(replay.read_stream(spark, d)),
        "t_sfunnel",
        "append",
    )
    _assert_funnel_matches_shadow(spark, sf_dir, info, "t_sfunnel")


def test_cep_rel_guard_timeout_side_output(spark, sf_dir, replay_dir):
    """Timeout side-output × IterativeCondition: the NFA's timeout
    rows carry the partial's accepted ANCHOR VALUE from the state's
    value segment — matched rows must equal the batch timeout chain's
    matched rows exactly (value column included), and timeout rows
    must be a subset of the batch chain's unmatched rows with the
    same carried value."""
    from hello_flink_spark.streaming.cep import (
        RELGUARD3,
        compile_batch_timeouts,
        compile_stream_timeouts,
    )

    run_to_memory(
        compile_stream_timeouts(RELGUARD3, _stream(spark, replay_dir)),
        "t_cep_rg_to",
        "append",
    )
    import pandas as pd

    got = spark.table("t_cep_rg_to").toPandas()
    want = compile_batch_timeouts(
        RELGUARD3, load_table(spark, sf_dir, "events")
    ).toPandas()
    cols = ["user_id", "view_id", "view_ts", "view_value", "click_ts", "purchase_ts"]

    def keyset(pdf):
        return {
            tuple(None if pd.isna(v) else v for v in row)
            for row in pdf[cols].itertuples(index=False)
        }

    got_m, got_t = got[got["matched"]], got[~got["matched"]]
    want_m, want_t = want[want["matched"]], want[~want["matched"]]
    assert keyset(got_m) == keyset(want_m)
    assert keyset(got_t) <= keyset(want_t)
    assert len(got_m), "no matched rows emitted"
    assert len(got_t), "no timeout rows emitted"


def test_cep_skip_to_first_golden_vs_simulation(spark, sf_dir, replay_dir):
    """skipToFirst(click) ([F] AfterMatchSkipStrategy.skipToFirst) on
    the real fixture replay: the NFA must equal the sequential
    reference model, and the strategy must be exercised (strictly
    fewer matches than the no-skip twin, strictly more than
    skipPastLastEvent — the completing event is not consumed and the
    boundary is the click, not the purchase)."""
    from tests.test_properties import _skip_sim, _skip_to_sim

    from hello_flink_spark.streaming.cep import (
        SKIPFIRST3,
        compile_stream,
    )

    run_to_memory(
        compile_stream(SKIPFIRST3, _stream(spark, replay_dir), WM), "t_cepskipf"
    )
    got = sorted(
        (
            r.user_id,
            r.view_id,
            int(r.view_ts.timestamp() * 1_000_000),
            int(r.click_ts.timestamp() * 1_000_000),
            int(r.purchase_ts.timestamp() * 1_000_000),
        )
        for r in spark.table("t_cepskipf").collect()
    )
    evs = _events_as_tuples(spark, sf_dir)
    evs5 = [(u, i, t, e, 0.0) for u, i, t, e in evs]
    want = _skip_to_sim(evs5, SKIPFIRST3.steps, SKIPFIRST3.window_us, "to_first", j=1)
    assert got and got == want
    n_noskip = len(_skip_to_sim(evs5, SKIPFIRST3.steps, SKIPFIRST3.window_us, "to_next"))
    n_pastlast = len(_skip_sim(evs, SKIPFIRST3.steps, SKIPFIRST3.window_us))
    assert n_pastlast < len(got) < n_noskip, (n_pastlast, len(got), n_noskip)


def test_cep_skip_to_next_any_match_golden_vs_simulation(spark, sf_dir, replay_dir):
    """skipToNext x followedByAny ([F] skipToNext composed with
    followedByAny) on the real fixture replay: the branch fan-out
    collapses to exactly one match per anchor (the first-completing
    branch), strictly between the first-match twin and the full
    branch enumeration in match count."""
    from tests.test_properties import _any_match_sim, _skip_to_sim

    from hello_flink_spark.streaming.cep import SKIPNEXT3, compile_stream

    run_to_memory(
        compile_stream(SKIPNEXT3, _stream(spark, replay_dir), WM), "t_cepskipn"
    )
    got = sorted(
        (
            r.user_id,
            r.view_id,
            int(r.view_ts.timestamp() * 1_000_000),
            int(r.click_ts.timestamp() * 1_000_000),
            int(r.purchase_ts.timestamp() * 1_000_000),
        )
        for r in spark.table("t_cepskipn").collect()
    )
    evs = _events_as_tuples(spark, sf_dir)
    evs5 = [(u, i, t, e, 0.0) for u, i, t, e in evs]
    want = _skip_to_sim(
        evs5, SKIPNEXT3.steps, SKIPNEXT3.window_us, "to_next", anyset={1}
    )
    assert got and got == want
    assert len({(u, a) for u, a, *_ in got}) == len(got), "per-anchor uniqueness"
    n_branches = len(_any_match_sim(evs5, SKIPNEXT3.steps, {1}, SKIPNEXT3.window_us))
    assert len(got) < n_branches, "skipToNext did not collapse branches"


def test_cep_until_stream_golden(spark, sf_dir, replay_dir):
    """[F] oneOrMore().until(stop), compiled and streamed: UNTIL3's
    matches over the replay must equal the independent per-anchor
    _until_sim reference model (the same module the hypothesis NFA
    tests pin), and the stop condition must be NON-VACUOUS on the
    fixture — at least one run's n_rep is truncated vs the no-until
    twin ONEPLUS3."""
    import datetime as dt

    from test_properties import _oneplus_sim, _until_sim

    from hello_flink_spark.streaming.cep import UNTIL3, compile_stream

    run_to_memory(
        compile_stream(UNTIL3, _stream(spark, replay_dir)), "t_cep_until", "append"
    )
    cols = [UNTIL3.ts_col(i) for i in range(3)]
    got = sorted(
        (
            r.user_id,
            getattr(r, UNTIL3.anchor_col),
            *(getattr(r, c) for c in cols),
            r.n_rep,
        )
        for r in spark.table("t_cep_until").collect()
    )

    evs = sorted(
        (
            (r.user_id, r.event_id, r.ts, r.event_type)
            for r in load_table(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("view", "click", "purchase", "error"))
            .collect()
        ),
        key=lambda x: (x[2], x[1]),
    )
    window = dt.timedelta(minutes=UNTIL3.within_minutes)
    want = _until_sim(evs, UNTIL3.steps, UNTIL3.one_or_more, window, 1, "error")
    assert got == want

    # non-vacuity: the twin WITHOUT until must disagree — some run is
    # genuinely truncated (or outlives a freeze) on the fixture
    plain = _oneplus_sim(
        [e for e in evs if e[3] != "error"],
        UNTIL3.steps,
        UNTIL3.one_or_more,
        window,
    )
    assert got != plain, "until() is vacuous on the fixture"
    by_key_until = {(u, a): n for u, a, *_ts, n in got}
    by_key_plain = {(u, a): n for u, a, *_ts, n in plain}
    # a freeze manifests two ways: a completion with truncated n_rep
    # (stop mid-run, purchase still inside the frozen window) or a
    # KILLED match (the un-extended window now misses the purchase —
    # the form this fixture exhibits). Either proves the stop bit.
    truncated = [
        k
        for k in by_key_until
        if k in by_key_plain and by_key_until[k] < by_key_plain[k]
    ]
    killed = set(by_key_plain) - set(by_key_until)
    assert truncated or killed, "no run was truncated or killed by the stop event"
    assert not (set(by_key_until) - set(by_key_plain)), (
        "until() must never CREATE a match the plain pattern lacks"
    )


def test_cep_run_total_stream_golden(spark, sf_dir, replay_dir):
    """[F] Kleene run-aggregate guard, compiled and streamed:
    RUNTOTAL3's matches over the replay must equal the independent
    per-anchor _runtotal_sim reference model, and the guard must be
    NON-VACUOUS on the fixture — some run completes later (more
    repetitions) or never vs the unguarded twin."""
    import datetime as dt

    from test_properties import _oneplus_sim, _runtotal_sim

    from hello_flink_spark.streaming.cep import RUNTOTAL3, compile_stream

    run_to_memory(
        compile_stream(RUNTOTAL3, _stream(spark, replay_dir)), "t_cep_rt", "append"
    )
    cols = [RUNTOTAL3.ts_col(i) for i in range(3)]
    got = sorted(
        (
            r.user_id,
            getattr(r, RUNTOTAL3.anchor_col),
            *(getattr(r, c) for c in cols),
            r.n_rep,
        )
        for r in spark.table("t_cep_rt").collect()
    )

    evs = sorted(
        (
            (r.user_id, r.event_id, r.ts, r.event_type, r.value)
            for r in load_table(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("view", "click", "purchase"))
            .collect()
        ),
        key=lambda x: (x[2], x[1]),
    )
    window = dt.timedelta(minutes=RUNTOTAL3.within_minutes)
    want = _runtotal_sim(
        evs, RUNTOTAL3.steps, RUNTOTAL3.one_or_more, window, 1,
        RUNTOTAL3.run_min_total,
    )
    assert got == want
    assert got, "no run cleared the value bar — threshold too high for fixture"

    plain = _oneplus_sim(
        [(u, i, t, e) for u, i, t, e, _v in evs],
        RUNTOTAL3.steps,
        RUNTOTAL3.one_or_more,
        window,
    )
    by_rt = {(u, a): n for u, a, *_ts, n in got}
    by_pl = {(u, a): n for u, a, *_ts, n in plain}
    killed = set(by_pl) - set(by_rt)
    grew = [k for k in by_rt if k in by_pl and by_rt[k] > by_pl[k]]
    assert killed or grew, "the value bar never changed an outcome — vacuous"
    assert not (set(by_rt) - set(by_pl)), (
        "the guard must never CREATE a match the plain pattern lacks"
    )


def test_cep_group_stream_golden(spark, sf_dir, replay_dir):
    """[F] GroupPattern, compiled and streamed: GROUP4's matches —
    signup, one or more COMPLETE (view click) loops, purchase — over
    the replay must equal the independent per-anchor _group_sim
    reference model, with at least one genuine multi-repetition match
    (or the group quantifier is vacuous on the fixture)."""
    import datetime as dt

    from test_properties import _group_sim

    from hello_flink_spark.streaming.cep import GROUP4, compile_stream

    run_to_memory(
        compile_stream(GROUP4, _stream(spark, replay_dir)), "t_cep_grp", "append"
    )
    cols = [GROUP4.ts_col(i) for i in range(4)]
    got = sorted(
        (
            r.user_id,
            getattr(r, GROUP4.anchor_col),
            *(getattr(r, c) for c in cols),
            r.n_rep,
        )
        for r in spark.table("t_cep_grp").collect()
    )

    evs = sorted(
        (
            (r.user_id, r.event_id, r.ts, r.event_type)
            for r in load_table(spark, sf_dir, "events")
            .filter(
                F.col("event_type").isin("signup", "view", "click", "purchase")
            )
            .collect()
        ),
        key=lambda x: (x[2], x[1]),
    )
    window = dt.timedelta(minutes=GROUP4.within_minutes)
    gi, gj = GROUP4.group_reps
    want = _group_sim(evs, GROUP4.steps, gi, gj, window)
    assert got == want
    assert got, "no group match on the fixture"
    assert any(n >= 2 for *_, n in got), (
        "no multi-repetition group run in fixture — quantifier vacuous"
    )


# ---------------------------------------------------------------------------
# r10: async-I/O enrichment under Structured Streaming — the operator's
# actual Flink context ([F] AsyncDataStream enriches a live stream).
# Stateless mapInPandas passes through the micro-batch planner, so the
# streamed result must equal the declared batch query row-for-row.
# ---------------------------------------------------------------------------


def test_async_enrich_stream_equals_batch_shadow(spark, sf_dir, replay_dir):
    from hello_flink_spark.operators.async_enrich import enrich_with_service

    enriched = enrich_with_service(
        _stream(spark, replay_dir).select("event_id", "user_id"),
        "user_id",
        capacity=64,
    )
    run_to_memory(enriched, "t_async_enrich", "append")
    got = {
        r.event_id: (r.profile_tier, r.profile_score, r.profile_segment)
        for r in spark.table("t_async_enrich").collect()
    }
    want = {
        r.event_id: (r.profile_tier, r.profile_score, r.profile_segment)
        for r in get_spec("join_async_enrich").fn(spark, sf_dir).collect()
    }
    assert got == want
    # fallback + retry visible in the streamed output too
    deleted = [v for v in got.values() if v[0] is None]
    assert deleted, "no deleted-user fallback rows streamed"


# ---------------------------------------------------------------------------
# wire-format decode under Structured Streaming (round 12): [F] Flink's
# canonical stream shape is Kafka values in avro/protobuf — the broker is
# absent here, so a file-replay stream of BINARY payload rows stands in,
# and the decode must work IN-STREAM through the same public column API
# the batch queries certify (pandas-UDF fallback inside a streaming plan).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def avro_payload_replay_dir(spark, sf_dir, tmp_path_factory):
    """Chunked parquet files of (chunk-ordered) Avro-binary payloads:
    each events row encoded to a record<event_id long, event_type
    string, value double> wire value."""
    import json as _json

    from hello_flink_spark.sources.avro_codec import encode_value

    schema_json = _json.dumps(
        {
            "type": "record",
            "name": "Ev",
            "fields": [
                {"name": "event_id", "type": "long"},
                {"name": "event_type", "type": "string"},
                {"name": "value", "type": "double"},
            ],
        }
    )

    @F.pandas_udf("binary")
    def _encode(event_id: pd.Series, event_type: pd.Series, value: pd.Series) -> pd.Series:
        return pd.Series(
            [
                encode_value(
                    {"event_id": int(i), "event_type": str(t), "value": float(v)},
                    schema_json,
                )
                for i, t, v in zip(event_id, event_type, value)
            ]
        )

    d = str(tmp_path_factory.mktemp("avro_payload_replay"))
    ev = load_table(spark, sf_dir, "events").orderBy("ts")
    payloads = ev.select(
        "ts", _encode("event_id", "event_type", "value").alias("payload")
    )
    n = payloads.count()
    chunk = (n + 3) // 4
    pdf = payloads.toPandas()
    for i in range(4):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        spark.createDataFrame(part, "ts timestamp, payload binary").coalesce(
            1
        ).write.parquet(f"{d}/chunk_{i:02d}")
    return d, schema_json


def test_avro_decode_in_stream_equals_batch_shadow(spark, sf_dir, avro_payload_replay_dir):
    """from_avro_col must decode INSIDE a streaming plan (Arrow pandas
    UDF in a micro-batch pipeline): per-event_type count+sum over the
    decoded structs equals the same aggregate over the batch-decoded
    payloads AND over the raw events table (end-to-end identity)."""
    from hello_flink_spark.sources.formats import from_avro_col

    d, schema_json = avro_payload_replay_dir
    stream = (
        spark.readStream.schema("ts timestamp, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/chunk_*/*.parquet")
    )
    decoded = stream.select(from_avro_col(F.col("payload"), schema_json).alias("rec"))
    agg = decoded.groupBy(F.col("rec.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("rec.value"), 6).alias("sum_value"),
        F.sum("rec.event_id").alias("sum_ids"),
    )
    run_to_memory(agg, "t_avro_stream", "complete")
    got = {r.event_type: (r.n, r.sum_value, r.sum_ids) for r in spark.table("t_avro_stream").collect()}
    want = {
        r.event_type: (r.n, r.sum_value, r.sum_ids)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.sum("event_id").alias("sum_ids"),
        )
        .collect()
    }
    assert got == want
    assert len(got) >= 2, "fixture should carry multiple event types"


def test_protobuf_decode_in_stream_equals_batch_shadow(spark, sf_dir, tmp_path_factory):
    """from_protobuf_col must decode INSIDE a streaming plan, the
    protobuf twin of the Avro in-stream golden: per-event_type
    count+sum over structs decoded from wire bytes equals the same
    aggregate over the raw events table (end-to-end identity)."""
    from hello_flink_spark.sources.formats import from_protobuf_col
    from hello_flink_spark.sources.proto_codec import encode_message

    spec = {
        "name": "Ev",
        "fields": [
            {"name": "event_id", "num": 1, "type": "int64"},
            {"name": "event_type", "num": 2, "type": "string"},
            {"name": "value", "num": 3, "type": "double"},
        ],
    }

    @F.pandas_udf("binary")
    def _encode(event_id: pd.Series, event_type: pd.Series, value: pd.Series) -> pd.Series:
        return pd.Series(
            [
                encode_message(
                    {"event_id": int(i), "event_type": str(t), "value": float(v)},
                    spec,
                )
                for i, t, v in zip(event_id, event_type, value)
            ]
        )

    d = str(tmp_path_factory.mktemp("proto_payload_replay"))
    ev = load_table(spark, sf_dir, "events").orderBy("ts")
    pdf = ev.select(
        "ts", _encode("event_id", "event_type", "value").alias("payload")
    ).toPandas()
    chunk = (len(pdf) + 3) // 4
    for i in range(4):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        spark.createDataFrame(part, "ts timestamp, payload binary").coalesce(
            1
        ).write.parquet(f"{d}/chunk_{i:02d}")

    stream = (
        spark.readStream.schema("ts timestamp, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/chunk_*/*.parquet")
    )
    decoded = stream.select(
        from_protobuf_col(F.col("payload"), "Ev", message_spec=spec).alias("rec")
    )
    agg = decoded.groupBy(F.col("rec.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("rec.value"), 6).alias("sum_value"),
        F.sum("rec.event_id").alias("sum_ids"),
    )
    run_to_memory(agg, "t_proto_stream", "complete")
    got = {r.event_type: (r.n, r.sum_value, r.sum_ids) for r in spark.table("t_proto_stream").collect()}
    want = {
        r.event_type: (r.n, r.sum_value, r.sum_ids)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.sum("event_id").alias("sum_ids"),
        )
        .collect()
    }
    assert got == want
    assert len(got) >= 2, "fixture should carry multiple event types"


def test_avro_encode_in_stream_to_file_sink(spark, sf_dir, replay_dir, tmp_path_factory):
    """to_avro_col must ENCODE inside a streaming plan (the
    Kafka-producer direction: rows → wire bytes → sink). A replayed
    events stream is encoded to Avro binary payloads and written to a
    parquet file sink; reading the sink back and decoding every
    payload must reproduce the raw events batch aggregate exactly."""
    import json as _json

    from hello_flink_spark.sources.avro_codec import decode_value
    from hello_flink_spark.sources.formats import to_avro_col
    from hello_flink_spark.streaming import replay

    d, _ = replay_dir
    schema_json = _json.dumps(
        {
            "type": "record",
            "name": "Ev",
            "fields": [
                {"name": "event_id", "type": "long"},
                {"name": "event_type", "type": "string"},
                {"name": "value", "type": "double"},
            ],
        }
    )
    stream = replay.read_stream(spark, d)
    enc = stream.select(
        to_avro_col(
            F.struct("event_id", "event_type", "value"), schema_json
        ).alias("payload")
    )
    out = str(tmp_path_factory.mktemp("avro_encoded_sink"))
    ckpt = str(tmp_path_factory.mktemp("avro_encoded_ckpt"))
    q = (
        enc.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_rows = [
        decode_value(bytes(r["payload"]), schema_json)
        for r in spark.read.parquet(out).collect()
    ]
    agg: dict[str, list] = {}
    for r in got_rows:
        a = agg.setdefault(r["event_type"], [0, 0.0, 0])
        a[0] += 1
        a[1] += r["value"]
        a[2] += r["event_id"]
    got = {k: (v[0], round(v[1], 6), v[2]) for k, v in agg.items()}
    want = {
        r.event_type: (r.n, r.sum_value, r.sum_ids)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.sum("event_id").alias("sum_ids"),
        )
        .collect()
    }
    assert got == want


def test_avro_container_file_stream_source(spark, tmp_path_factory):
    """read_avro_stream: .avro containers in a directory become
    micro-batches ([F] filesystem source, streaming mode). Two
    generations of containers — the older one missing a field — read
    under the evolved reader schema with maxFilesPerTrigger=1, so
    evolution resolves PER FILE inside a streaming plan."""
    from hello_flink_spark.sources.avro_codec import encode_container
    from hello_flink_spark.sources.formats import read_avro_stream

    v1 = {"type": "record", "name": "D", "fields": [{"name": "id", "type": "long"}]}
    v2 = {
        "type": "record",
        "name": "D",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "tag", "type": "string", "default": "old"},
        ],
    }
    d = tmp_path_factory.mktemp("avro_stream_src")
    (d / "gen1.avro").write_bytes(encode_container([{"id": i} for i in range(5)], v1))
    (d / "gen2.avro").write_bytes(
        encode_container([{"id": i, "tag": f"t{i}"} for i in range(5, 8)], v2,
                         codec="deflate")
    )
    stream = read_avro_stream(spark, str(d), reader_schema=v2)
    assert stream.isStreaming
    run_to_memory(stream, "t_avro_file_stream", "append")
    got = sorted((r["id"], r["tag"]) for r in spark.table("t_avro_file_stream").collect())
    assert got == [(i, "old") for i in range(5)] + [(i, f"t{i}") for i in range(5, 8)]


def test_avro_stream_reads_extensionless_skips_hidden(spark, tmp_path_factory):
    """read_avro_stream must match the BATCH reader's file contract:
    extensionless containers are read, _/.-prefixed metadata files are
    skipped — the old *.avro glob silently dropped valid extensionless
    files the batch path reads (advisor r12)."""
    from hello_flink_spark.sources.avro_codec import encode_container
    from hello_flink_spark.sources.formats import read_avro_stream

    v1 = {"type": "record", "name": "D", "fields": [{"name": "id", "type": "long"}]}
    d = tmp_path_factory.mktemp("avro_stream_extless")
    (d / "_SUCCESS").write_bytes(b"")
    (d / "part-0").write_bytes(encode_container([{"id": i} for i in range(4)], v1))
    # schema INFERENCE must also see the extensionless file: no reader_schema
    stream = read_avro_stream(spark, str(d))
    run_to_memory(stream, "t_avro_stream_extless", "append")
    got = sorted(r["id"] for r in spark.table("t_avro_stream_extless").collect())
    assert got == [0, 1, 2, 3]


def test_protobuf_stream_reads_extensionless_skips_hidden(spark, tmp_path_factory):
    """read_protobuf_delimited_stream must match the BATCH reader's
    file contract: extensionless frame files are read, _/.-prefixed
    metadata files are skipped — the old *.pb glob silently dropped
    files the batch path reads (same class as the avro-stream advisor
    finding)."""
    import io

    from hello_flink_spark.sources.formats import read_protobuf_delimited_stream
    from hello_flink_spark.sources.proto_codec import encode_message, write_varint

    spec = {"name": "E", "fields": [{"name": "v", "num": 1, "type": "int64"}]}
    d = tmp_path_factory.mktemp("pb_stream_extless")
    (d / "_SUCCESS").write_bytes(b"")
    buf = io.BytesIO()
    for i in range(5):
        raw = encode_message({"v": i}, spec)
        write_varint(buf, len(raw))
        buf.write(raw)
    (d / "part-0").write_bytes(buf.getvalue())  # no .pb extension
    stream = read_protobuf_delimited_stream(spark, str(d), spec)
    run_to_memory(stream, "t_pb_stream_extless", "append")
    got = sorted(r["v"] for r in spark.table("t_pb_stream_extless").collect())
    assert got == [0, 1, 2, 3, 4]


def test_protobuf_delimited_file_stream_source(spark, tmp_path_factory):
    """read_protobuf_delimited_stream: .pb frame files become
    micro-batches; written by the batch sink, read back in a streaming
    plan with an aggregate."""
    from hello_flink_spark.sources.formats import (
        read_protobuf_delimited_stream,
        write_protobuf_delimited,
    )

    spec = {
        "name": "E",
        "fields": [
            {"name": "k", "num": 1, "type": "string"},
            {"name": "v", "num": 2, "type": "int64"},
        ],
    }
    d = str(tmp_path_factory.mktemp("pb_stream_src"))
    df = spark.createDataFrame(
        [("a" if i % 2 else "b", i) for i in range(40)], "k string, v long"
    ).repartition(4)
    write_protobuf_delimited(df, d, spec)
    stream = read_protobuf_delimited_stream(spark, d, spec)
    assert stream.isStreaming
    agg = stream.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    run_to_memory(agg, "t_pb_file_stream", "complete")
    got = {r["k"]: (r["n"], r["sv"]) for r in spark.table("t_pb_file_stream").collect()}
    want = {r["k"]: (r["n"], r["sv"]) for r in
            df.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")).collect()}
    assert got == want


def test_confluent_framed_decode_in_stream(spark, tmp_path_factory):
    """from_avro_confluent_col inside a streaming plan: a file-replay
    stream of Confluent-framed payloads carrying TWO schema
    generations (the Kafka multi-generation topic shape) decodes
    per-message under its id's writer schema and aggregates to the
    batch truth."""
    from hello_flink_spark.sources.avro_codec import encode_value
    from hello_flink_spark.sources.formats import from_avro_confluent_col

    v1 = {"type": "record", "name": "E",
          "fields": [{"name": "k", "type": "string"},
                     {"name": "v", "type": "long"}]}
    v2 = {"type": "record", "name": "E",
          "fields": [{"name": "k", "type": "string"},
                     {"name": "v", "type": "long"},
                     {"name": "w", "type": "long", "default": 1}]}

    def frame(sid, body):
        return b"\x00" + sid.to_bytes(4, "big") + body

    rows = [
        (frame(1, encode_value({"k": "a" if i % 2 else "b", "v": i}, v1)),)
        for i in range(20)
    ] + [
        (frame(2, encode_value({"k": "a", "v": i, "w": 2}, v2)),)
        for i in range(20, 30)
    ]
    d = str(tmp_path_factory.mktemp("confluent_replay"))
    for part in range(2):
        spark.createDataFrame(rows[part * 15 : (part + 1) * 15], "payload binary") \
            .coalesce(1).write.parquet(f"{d}/chunk_{part:02d}")

    stream = (
        spark.readStream.schema("payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/chunk_*/*.parquet")
    )
    dec = stream.select(
        from_avro_confluent_col(F.col("payload"), v2, {1: v1, 2: v2}).alias("rec")
    )
    agg = dec.groupBy(F.col("rec.k").alias("k")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rec.v").alias("sv"),
        F.sum("rec.w").alias("sw"),
    )
    run_to_memory(agg, "t_confluent_stream", "complete")
    got = {r["k"]: (r["n"], r["sv"], r["sw"])
           for r in spark.table("t_confluent_stream").collect()}
    want = {}
    for i in range(20):
        k = "a" if i % 2 else "b"
        n, sv, sw = want.get(k, (0, 0, 0))
        want[k] = (n + 1, sv + i, sw + 1)  # v1 rows take default w=1
    for i in range(20, 30):
        n, sv, sw = want.get("a", (0, 0, 0))
        want["a"] = (n + 1, sv + i, sw + 2)
    assert got == want

# ---------------------------------------------------------------------------
# format streaming sources: checkpoint recovery (VERDICT r13 #3)
# ---------------------------------------------------------------------------


def test_avro_stream_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Checkpoint recovery for read_avro_stream (the round-12/13 format
    file sources had no recovery golden): stop the streaming decode
    mid-directory, add more containers, restart from the SAME
    checkpoint — the offset WAL must skip already-committed files, the
    union of both runs' emissions equals the batch read, and schema
    evolution keeps resolving per file across the restart."""
    from hello_flink_spark.sources.avro_codec import encode_container
    from hello_flink_spark.sources.formats import read_avro, read_avro_stream

    v1 = {"type": "record", "name": "D", "fields": [{"name": "id", "type": "long"}]}
    v2 = {
        "type": "record",
        "name": "D",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "tag", "type": "string", "default": "old"},
        ],
    }
    d = tmp_path / "avro_ckpt_src"
    d.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (d / "chunk_000.avro").write_bytes(
        encode_container([{"id": i} for i in range(10)], v1)
    )

    q1 = jobs.to_parquet_sink(read_avro_stream(spark, str(d), reader_schema=v2), out, ckpt)
    q1.awaitTermination()
    n_run1 = spark.read.parquet(out).count()
    assert n_run1 == 10

    # second generation lands AFTER the stop: evolved schema + deflate
    (d / "chunk_001.avro").write_bytes(
        encode_container([{"id": i, "tag": f"t{i}"} for i in range(10, 16)], v2,
                         codec="deflate")
    )
    q2 = jobs.to_parquet_sink(read_avro_stream(spark, str(d), reader_schema=v2), out, ckpt)
    q2.awaitTermination()

    final = sorted((r["id"], r["tag"]) for r in spark.read.parquet(out).collect())
    assert len(final) == len(set(final)), "duplicate record after recovery"
    want = sorted(
        (r["id"], r["tag"])
        for r in read_avro(spark, str(d), reader_schema=v2).collect()
    )
    assert final == want, "recovered stream diverged from the batch read"
    assert n_run1 < len(final), "nothing was emitted after the restart"


def test_protobuf_stream_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Checkpoint recovery for read_protobuf_delimited_stream: same
    contract as the avro twin — exactly-once file accounting across a
    stop/restart, union of emissions equals the batch read."""
    import io

    from hello_flink_spark.sources.formats import (
        read_protobuf_delimited,
        read_protobuf_delimited_stream,
    )
    from hello_flink_spark.sources.proto_codec import encode_message, write_varint

    spec = {"name": "E", "fields": [{"name": "v", "num": 1, "type": "int64"}]}

    def frames(ids):
        buf = io.BytesIO()
        for i in ids:
            raw = encode_message({"v": i}, spec)
            write_varint(buf, len(raw))
            buf.write(raw)
        return buf.getvalue()

    d = tmp_path / "pb_ckpt_src"
    d.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (d / "chunk_000.pb").write_bytes(frames(range(8)))

    q1 = jobs.to_parquet_sink(
        read_protobuf_delimited_stream(spark, str(d), spec), out, ckpt
    )
    q1.awaitTermination()
    n_run1 = spark.read.parquet(out).count()
    assert n_run1 == 8

    (d / "chunk_001.pb").write_bytes(frames(range(8, 13)))
    q2 = jobs.to_parquet_sink(
        read_protobuf_delimited_stream(spark, str(d), spec), out, ckpt
    )
    q2.awaitTermination()

    final = sorted(r["v"] for r in spark.read.parquet(out).collect())
    assert final == sorted(
        r["v"] for r in read_protobuf_delimited(spark, str(d), spec).collect()
    ), "recovered stream diverged from the batch read"
    assert final == list(range(13)), "lost or duplicated frames across restart"
    assert n_run1 < len(final), "nothing was emitted after the restart"

# ---------------------------------------------------------------------------
# state schema evolution across checkpoints (VERDICT r13 #4, SEMANTICS §13)
# ---------------------------------------------------------------------------

def _make_padded_state_cls(keep: int, pad):
    """A GroupState adapter presenting a v1 state view over a WIDENED
    state schema: reads truncate to the first ``keep`` fields, writes
    append the defaulted ``pad`` tail — the shape a real state-schema
    upgrade ships. Returned as a DYNAMIC class (created at call time)
    so cloudpickle serializes it by VALUE inside the shipped processor
    closures; a module-level class would pickle by qualified name and
    executors cannot import ``test_streaming``. Shared by every
    state-evolution golden (scalar-tuple EWMA r15, list-bearing session
    funnel r16, map-bearing burst detector r17)."""

    class _PaddedState:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):  # remove, timers, watermark...
            return getattr(self._inner, name)

        @property
        def exists(self):
            return self._inner.exists

        @property
        def get(self):
            return tuple(self._inner.get)[:keep]

        def update(self, t):
            self._inner.update(tuple(t) + (pad,))

    return _PaddedState


def _make_evolved_ewma():
    """The evolved EWMA processor: v1 logic against a state schema with
    one appended defaulted field, adapted by padding writes /
    truncating reads (the shape a real upgrade ships). A FACTORY, not
    module-level definitions: cloudpickle ships nested functions and
    classes by VALUE, while module-level ones pickle by qualified name
    and executors cannot import ``test_streaming``. Two goldens drive
    it: the rejection golden (old checkpoint must refuse it loud) and
    the upgrade-recipe golden (fresh-checkpoint reprocess must converge
    to the batch shadow, VERDICT r14 #5)."""
    from functools import partial

    from pyspark.sql.streaming.state import GroupStateTimeout

    ext_state = (
        "ewma double, n long, buf_ts array<long>, buf_eid array<long>, "
        "buf_val array<double>, scale double"
    )
    _PaddedState = _make_padded_state_cls(keep=5, pad=1.0)

    def _ewma_v2(tzv, key, pdfs, state):
        yield from stateful._ewma(tzv, key, pdfs, _PaddedState(state))

    def evolved(stream, delay: str = WM):
        tz = stream.sparkSession.conf.get("spark.sql.session.timeZone")
        return stream.withWatermark("ts", delay).groupBy(
            "user_id"
        ).applyInPandasWithState(
            partial(_ewma_v2, tz),
            outputStructType="user_id long, n_events long, ewma_value double",
            stateStructType=ext_state,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )

    return evolved


def test_state_schema_evolution_rejected_across_checkpoint(spark, tmp_path):
    """[F] savepoint state evolution has NO Spark equivalent for
    applyInPandasWithState: the state schema of a live checkpoint is
    FROZEN, and a restart whose stateStructType appends even one
    nullable defaulted field must fail LOUD at the first micro-batch
    (STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE), never positionally
    mis-decode old state rows. The supported upgrade path — a fresh
    checkpoint reprocessing the bounded source with the evolved
    processor — must complete and match the uninterrupted v1 run.
    Documented as the upgrade-path delta in docs/SEMANTICS.md §13."""
    from pyspark.errors import StreamingQueryException

    src = str(tmp_path / "replay")
    events = spark.range(40).select(
        (F.col("id") % 4).alias("user_id"),
        F.col("id").alias("event_id"),
        (F.col("id") * 1.0).alias("value"),
        F.expr(
            "timestamp'2026-01-01 00:00:00' + "
            "make_interval(0,0,0,0,0,cast(id * 10 as int),0)"
        ).alias("ts"),
    )
    def land_chunk(k):
        events.filter(
            (F.col("event_id") >= k * 10) & (F.col("event_id") < (k + 1) * 10)
        ).coalesce(1).write.parquet(os.path.join(src, f"chunk_{k:03d}"))

    # the last chunk lands only AFTER the v1 run stops: the evolved
    # resume must have a real micro-batch to process, or the state
    # schema check never fires and the rejection assertion is vacuous
    for k in range(3):
        land_chunk(k)

    def read_stream():
        return (
            spark.readStream.schema(
                "user_id long, event_id long, value double, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "chunk_*"))
        )

    def parquet_append(out_dir):
        def fn(bdf, _bid):
            bdf.write.mode("append").parquet(out_dir)

        return fn

    out1, ckpt1 = str(tmp_path / "out_v1"), str(tmp_path / "ckpt_v1")
    q1 = jobs.to_foreach_batch(
        stateful.stateful_value_ewma(read_stream()),
        parquet_append(out1), ckpt1, output_mode="update",
    )
    q1.awaitTermination()
    assert spark.read.parquet(out1).count(), (
        "v1 run emitted nothing — the evolution probe is vacuous"
    )
    land_chunk(3)

    evolved = _make_evolved_ewma()  # shared evolved processor

    # 1) resume over the OLD checkpoint: rejected loud, no silent remap
    with pytest.raises(
        StreamingQueryException, match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"
    ):
        q2 = jobs.to_foreach_batch(
            evolved(read_stream()), parquet_append(out1), ckpt1,
            output_mode="update",
        )
        q2.awaitTermination()

    # 2) the rejection must leave the checkpoint USABLE: the v1
    # processor resumes over it and drains the held-back chunk
    q1b = jobs.to_foreach_batch(
        stateful.stateful_value_ewma(read_stream()),
        parquet_append(out1), ckpt1, output_mode="update",
    )
    q1b.awaitTermination()

    # 3) the upgrade path: fresh checkpoint, full reprocess, evolved
    # schema — completes and matches the v1 run's final values
    out2, ckpt2 = str(tmp_path / "out_v2"), str(tmp_path / "ckpt_v2")
    q3 = jobs.to_foreach_batch(
        evolved(read_stream()), parquet_append(out2), ckpt2,
        output_mode="update",
    )
    q3.awaitTermination()

    def final_per_user(out_dir):
        best = {}
        for r in spark.read.parquet(out_dir).collect():
            cur = best.get(r["user_id"])
            if cur is None or r["n_events"] > cur[0]:
                best[r["user_id"]] = (r["n_events"], round(r["ewma_value"], 9))
        return best

    assert final_per_user(out2) == final_per_user(out1), (
        "evolved fresh-checkpoint run diverged from the v1 shadow"
    )


def test_state_evolution_upgrade_recipe_matches_batch_shadow(
    spark, sf_dir, ooo_flush_replay_dir
):
    """The documented upgrade path WORKS, not only the unsupported one
    fails (VERDICT r14 #5): after a state-tuple extension the
    operational recipe — fresh checkpoint, reprocess the source with
    the evolved processor — must converge to the declared BATCH shadow
    (`events_value_ewma`) bit-for-bit on the real fixture, driven over
    the out-of-order-within-delay replay so the reorder buffer is
    exercised under the widened state schema too. Same comparison as
    the v1 golden (test_stateful_ewma_equals_batch_shadow): the
    upgrade recipe loses nothing relative to an uninterrupted run."""
    run_to_memory(
        _make_evolved_ewma()(_stream(spark, ooo_flush_replay_dir)),
        "t_ewma_v2",
        "update",
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        spark.table("t_ewma_v2")
        .filter(F.col("user_id") >= 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    got = {r.user_id: (r.n_events, round(r.ewma_value, 6)) for r in final.collect()}
    want = {
        r.user_id: (r.n_events, r.ewma_value)
        for r in get_spec("events_value_ewma").fn(spark, sf_dir).collect()
    }
    assert got == want, "upgrade-recipe run diverged from the batch shadow"


def _make_evolved_session_funnel():
    """The evolved session-funnel processor: v1 logic against a state
    schema with one appended defaulted LIST field, adapted by padding
    writes / truncating reads. The r15 recipe golden proved the
    fresh-checkpoint upgrade path for a SCALAR-tuple extension
    (`stateful_value_ewma` + `scale double`); this factory extends a
    state that already carries LIST columns (the three reorder-buffer
    arrays) with ANOTHER list (`tags array<string>`, default []) — the
    session/funnel state-machine shape VERDICT r15 #5 asked to cover.
    A FACTORY for the same reason as `_make_evolved_ewma`: cloudpickle
    ships nested definitions by value; module-level ones pickle by
    qualified name and executors cannot import ``test_streaming``."""
    from functools import partial

    from pyspark.sql.streaming.state import GroupStateTimeout

    ext_state = (
        "start long, last long, fv long, fc long, fp long, "
        "buf_ts array<long>, buf_eid array<long>, buf_et array<string>, "
        "tags array<string>"
    )
    _PaddedState = _make_padded_state_cls(keep=8, pad=[])

    def _funnel_v2(tzv, key, pdfs, state):
        yield from stateful._session_funnel(tzv, key, pdfs, _PaddedState(state))

    def evolved(stream, delay: str = WM):
        tz = stream.sparkSession.conf.get("spark.sql.session.timeZone")
        return stream.withWatermark("ts", delay).groupBy(
            "user_id"
        ).applyInPandasWithState(
            partial(_funnel_v2, tz),
            outputStructType=(
                "user_id long, session_start timestamp, reached_stage int"
            ),
            stateStructType=ext_state,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )

    return evolved


def test_state_evolution_upgrade_recipe_list_state_matches_batch_shadow(
    spark, sf_dir, ooo_flush_replay_dir
):
    """The upgrade recipe proven for scalar-tuple state (r15, EWMA)
    holds for a LIST-bearing session state machine too (VERDICT r15
    #5): after appending a defaulted `array<string>` field to
    `stateful_session_funnel`'s state, the fresh-checkpoint reprocess
    over the out-of-order-within-delay replay must aggregate to the
    batch shadow's (`events_session_funnel`) four counters exactly —
    the same comparison as the v1 golden, so the recipe loses nothing
    (no double-emitted session, no dropped reordered row) relative to
    an uninterrupted run."""
    d, info = ooo_flush_replay_dir
    run_to_memory(
        _make_evolved_session_funnel()(replay.read_stream(spark, d)),
        "t_sfunnel_v2",
        "append",
    )
    _assert_funnel_matches_shadow(
        spark, sf_dir, info, "t_sfunnel_v2", label="upgrade-recipe funnel diverged: "
    )


def _make_evolved_burst():
    """The evolved burst-detector processor: v1 logic against a state
    schema with one appended defaulted MAP column (``meta
    map<string,long>``, default {}) — the MapState-style dict
    container VERDICT r16 #5 named as the one state shape the recipe
    goldens had not yet covered. ``stateful_burst_detector`` is the
    natural host: its state already encodes a (second → count) map
    (the ``secs``/``cnts`` parallel arrays), and the appended field is
    a genuine Spark ``MapType`` state column, so the golden proves
    both that the recipe holds over map-bearing state AND that a map
    column itself survives the pad/truncate adapter across
    micro-batches. A FACTORY for the same reason as
    ``_make_evolved_ewma``: cloudpickle ships nested definitions by
    value; module-level ones pickle by qualified name and executors
    cannot import ``test_streaming``."""
    from functools import partial

    from pyspark.sql.streaming.state import GroupStateTimeout

    ext_state = (
        "secs array<long>, cnts array<long>, max_burst long, "
        "buf_ts array<long>, meta map<string,long>"
    )
    _PaddedState = _make_padded_state_cls(keep=4, pad={})

    def _burst_v2(tzv, key, pdfs, state):
        yield from stateful._burst(tzv, key, pdfs, _PaddedState(state))

    def evolved(stream, delay: str = WM):
        tz = stream.sparkSession.conf.get("spark.sql.session.timeZone")
        return stream.withWatermark("ts", delay).groupBy(
            "user_id"
        ).applyInPandasWithState(
            partial(_burst_v2, tz),
            outputStructType="user_id long, max_burst_24h long",
            stateStructType=ext_state,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )

    return evolved


def test_state_evolution_upgrade_recipe_map_state_matches_batch_shadow(
    spark, sf_dir, ooo_flush_replay_dir
):
    """The upgrade recipe proven for scalar-tuple (r15, EWMA) and
    list-bearing (r16, session funnel) state holds for a MAP-bearing
    state machine with an appended ``map<string,long>`` column too
    (VERDICT r16 #5 — the last state-container shape): the
    fresh-checkpoint reprocess of `stateful_burst_detector` under the
    widened schema, driven over the out-of-order-within-delay replay
    so the reorder buffer works under the new schema as well, must
    reach the same final per-user rolling-24 h maximum as the batch
    RANGE-frame shadow — the identical comparison the v1 goldens make,
    so the recipe loses nothing relative to an uninterrupted run."""
    d, info = ooo_flush_replay_dir
    run_to_memory(
        _make_evolved_burst()(replay.read_stream(spark, d)),
        "t_burst_v2",
        "update",
    )
    got = _burst_final_per_user(spark, "t_burst_v2")
    want = _burst_batch_shadow(spark, sf_dir)
    assert info["n_deferred"] > 0
    assert got == want, "upgrade-recipe burst run diverged from the batch shadow"
