"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import pytest

from perfbench import engine
from perfbench.digest import digest, frame_digest
from perfbench.stream import (
    batch_records,
    event_latencies,
    latency_summary,
    tail_percentile,
    weighted_quantile,
)
from perfbench.trace import Span, Tracer, eventlog_totals, layer_totals, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_agree_with_benchmark_json():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == list(engine.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(engine.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} == {"batch", "stream"}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_printed_metrics_carry_units():
    assert engine.unit_of("suite_s") == "s"
    assert engine.unit_of("lat_p50_ms") == "ms"
    assert engine.unit_of("sustained_rows_per_s") == "rows/s"
    assert engine.unit_of("queries_per_s") == "1/s"
    assert engine.unit_of("peak_rss_mb") == "MB"
    assert engine.unit_of("failed_frac") == "ratio"
    assert engine.unit_of("batches") == "count"


def test_every_batch_query_has_an_expected_digest():
    from perfbench.digest import load_expected

    assert set(load_expected()) == set(engine.BATCH_QUERIES)


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 2.5), (2, "b", None)]
    same = [(None, "b", 2), (2.5, "a", 1)]  # columns reversed, rows swapped
    assert digest(["k", "s", "v"], rows) == digest(["v", "s", "k"], same)


def test_digest_rejects_a_perturbed_frame():
    rows = [(1, "a", 2.5), (2, "b", 0.1)]
    base = digest(["k", "s", "v"], rows)
    one_ulp = math.nextafter(0.1, 1.0)
    assert digest(["k", "s", "v"], [(1, "a", 2.5), (2, "b", one_ulp)]) != base
    assert digest(["k", "s", "v"], [(1, "a", 2.5), (2, "c", 0.1)]) != base
    assert digest(["k", "s", "v"], [(1, "a", 2.5)]) != base
    assert digest(["k", "s", "v"], [(1, "a", 2.5), (2.0, "b", 0.1)]) != base  # int vs float
    assert digest(["k", "s", "w"], rows) != base


def test_frame_digest_matches_rows_with_nulls():
    pd = pytest.importorskip("pandas")
    frame = pd.DataFrame(
        {"k": [1, 2], "t": pd.to_datetime(["2024-01-01", None]), "v": [0.5, float("nan")]}
    )
    rows = [(1, dt.datetime(2024, 1, 1), 0.5), (2, None, None)]
    assert frame_digest(frame) == digest(["k", "t", "v"], rows)


def _progress(batch_id, start_ms, dur_ms, n, lo, hi, bad=0):
    ts = (
        dt.datetime.fromtimestamp(start_ms / 1000, tz=dt.timezone.utc)
        .isoformat(timespec="milliseconds").replace("+00:00", "Z")
    )
    return {
        "batchId": batch_id,
        "timestamp": ts,
        "numInputRows": n,
        "durationMs": {"triggerExecution": dur_ms, "addBatch": dur_ms - 10,
                       "queryPlanning": 4, "walCommit": 3, "commitOffsets": 2},
        "eventTime": {"watermark": "1970-01-01T00:00:00.000Z"},
        "observedMetrics": {"inv": {"n": n, "lo": lo, "hi": hi}, "out": {"bad": bad}},
        "stateOperators": [{"numRowsTotal": 7}],
    }


def test_latency_reconstruction_on_synthetic_progress():
    # batch 2 reads 1000 events created evenly over [0, 1000) ms and commits at 3000;
    # batch 3 reads 1000 created over [1000, 2000) and commits at 5000
    t = 1_700_000_000_000
    prog = [
        _progress(2, t + 1000, 2000, 1000, t + 0, t + 1000),
        _progress(3, t + 3000, 2000, 1000, t + 1000, t + 2000),
    ]
    batches = batch_records(prog)
    assert [b["commit_ms"] for b in batches] == [t + 3000, t + 5000]
    assert batches[0]["watermark_ms"] is None  # epoch-0 watermark means none yet
    assert batches[0]["commit_log_ms"] == 5
    samples = event_latencies(batches)
    assert sum(w for _, w in samples) == pytest.approx(2000)
    # batch 2 latencies span (2000, 3000], batch 3 latencies span (3000, 4000]
    assert min(v for v, _ in samples) > 2000 and max(v for v, _ in samples) < 4000
    assert weighted_quantile(samples, 0.5) == pytest.approx(3000, abs=5)
    s = latency_summary(batches, offered=500.0)
    assert s["events"] == pytest.approx(2000)
    assert s["p90_ms"] == pytest.approx(3800, abs=5)
    assert s["tail_pct"] == 99.5
    assert s["tail_ms"] == pytest.approx(3990, abs=10)
    assert s["processed_rows_per_s"] == pytest.approx(500.0)
    assert s["batches_per_s"] == pytest.approx(0.5)


def test_weighted_quantile_and_tail_percentile():
    samples = [(10.0, 1.0), (20.0, 1.0), (30.0, 2.0)]
    assert weighted_quantile(samples, 0.25) == 10.0
    assert weighted_quantile(samples, 0.5) == 20.0
    assert weighted_quantile(samples, 0.51) == 30.0
    assert tail_percentile(15) == 50.0
    assert tail_percentile(30) == 66.6
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10**7) == 99.9


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("q", 0.0, 10.0, None, "x"),
        Span("a", 1.0, 4.0, 0, "x"),
        Span("b", 3.0, 6.0, 0, "x"),  # overlaps a: union [1, 6]
        Span("c", 8.0, 12.0, 0, "x"),  # clipped to parent: [8, 10]
        Span("d", 2.0, 3.0, 1, "x"),  # grandchild: counts for a, not q
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 3.0, 4.0, 1.0])
    tot = layer_totals(spans)
    assert tot["q"]["calls"] == 1 and tot["q"]["self_s"] == pytest.approx(3.0)


def test_tracer_wraps_and_nests():
    tr = Tracer()
    calls = []
    f = tr.wrap(lambda x: calls.append(x) or x + 1, "layer.f")
    assert f(1) == 2 and tr.spans == []  # disabled: no span
    tr.enabled = True
    with tr.span("outer") as outer:
        f(2)
    assert outer is tr.spans[0] and outer.end >= tr.spans[1].end
    assert [s.name for s in tr.spans] == ["outer", "layer.f"]
    assert tr.spans[1].parent == 0 and tr.spans[1].end >= tr.spans[1].start


def test_eventlog_totals(tmp_path):
    def task(stage, run_ms, sent=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [
                {"Name": "data sent to Python workers", "Update": sent}]},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 4},
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 8,
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1], "Properties": {}},
        task(0, 100, sent=10), task(0, 100), task(0, 400), task(1, 1000),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    t = eventlog_totals(str(path), {"g"})
    assert t["spark.executor_run_s"] == pytest.approx(0.6)
    assert t["spark.executor_cpu_s"] == pytest.approx(0.3)
    assert t["spark.shuffle_read_bytes"] == 9 and t["spark.shuffle_write_bytes"] == 12
    assert t["spark.spill_bytes"] == 24
    assert t["python.bytes_to_worker"] == 10
    assert t["spark.task_skew"] == pytest.approx(4.0)


def test_batch_summary_takes_each_querys_fastest_run():
    times = {"a": (1.0, 0.5), "b": (2.0,), "c": (3.0,), "d": (4.0,), "e": (5.0, 6.0)}
    recs = [{"query": q, "wall_s": t} for q, ts in times.items() for t in ts]
    s = engine.batch_summary(recs, [9.0, 8.0])
    assert s["suite_s"] == pytest.approx(14.5)
    assert s["query_max_ms"] == pytest.approx(5000.0)
    # slowest quarter of five queries: the two slowest
    assert s["query_top_quarter_ms"] == pytest.approx(4500.0)
    assert s["query_geomean_s"] == pytest.approx((0.5 * 2 * 3 * 4 * 5) ** 0.2)
    assert s["pass_wall_s"] == pytest.approx(8.5) and s["passes"] == 2
