"""The ``stream`` workload: an open-loop rate source through
``stateful_value_ewma``, and the arithmetic that turns the query's
progress records into per-event latencies.

Each micro-batch's progress record carries the count and the first and
last creation stamps of the rows it read (``observe``). The rate source
spreads rows evenly over each second, so a batch's rows are spread
evenly over [first, last]; an event's
latency is the batch's commit time (trigger start + trigger execution)
minus its creation stamp. Nothing is collected per event.
"""

from __future__ import annotations

import json
import math
import time
from datetime import datetime

DELAY = "2 seconds"  # watermark delay of stateful_value_ewma
TIMEOUT_S = 90.0  # longest wait for the warm-up or the last micro-batch


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def batch_records(progress: list[dict]) -> list[dict]:
    """One record per committed micro-batch, from progress dicts (the
    JSON form of ``StreamingQueryProgress``)."""
    out = []
    for p in progress:
        dur = p.get("durationMs") or {}
        if "triggerExecution" not in dur:
            continue
        observed = p.get("observedMetrics") or {}
        inv = observed.get("inv") or {}
        start = _epoch_ms(p["timestamp"])
        wm = (p.get("eventTime") or {}).get("watermark")
        out.append({
            "batch": p["batchId"],
            "rows": p.get("numInputRows", 0),
            "created": (inv.get("n") or 0, inv.get("lo"), inv.get("hi")),
            "commit_ms": start + dur["triggerExecution"],
            "batch_ms": dur["triggerExecution"],
            "add_batch_ms": dur.get("addBatch", 0),
            "plan_ms": dur.get("queryPlanning", 0),
            "commit_log_ms": dur.get("walCommit", 0) + dur.get("commitOffsets", 0),
            "bad_rows": (observed.get("out") or {}).get("bad") or 0,
            "watermark_ms": _epoch_ms(wm) if wm and _epoch_ms(wm) > 0 else None,
            "state": (p.get("stateOperators") or [{}])[0],
        })
    return out


def event_latencies(batches: list[dict], points: int = 400):
    """(latency_ms, weight) samples of the events the batches read;
    each batch's events are spread evenly between its first and last
    creation stamps, and each waits until the batch commits."""
    samples = []
    for b in batches:
        n, lo, hi = b["created"]
        if not n or lo is None:
            continue
        k = max(1, min(points, n))
        for i in range(k):
            created = lo + (hi - lo) * (i + 0.5) / k
            samples.append((b["commit_ms"] - created, n / k))
    return samples


def weighted_quantile(samples, q: float) -> float:
    """Smallest value whose cumulative weight reaches ``q`` (0..1) of
    the total."""
    if not samples:
        raise ValueError("no samples")
    samples = sorted(samples)
    total = sum(w for _, w in samples)
    acc = 0.0
    for v, w in samples:
        acc += w
        if acc >= q * total - 1e-9:
            return v
    return samples[-1][0]


def tail_percentile(n: float) -> float:
    """Highest percentile (at most 99.9, at least 50) with at least ten
    of ``n`` samples beyond it."""
    if n <= 20:
        return 50.0
    return min(99.9, math.floor(1000.0 * (1.0 - 10.0 / n)) / 10.0)


def latency_summary(batches: list[dict], offered: float) -> dict:
    """Event-latency median and tail over the batches, the rate the
    engine processed rows at (rows over busy time), and micro-batches
    committed per second of busy time."""
    samples = event_latencies(batches)
    n = sum(w for _, w in samples)
    tail = tail_percentile(n)
    busy_s = sum(b["batch_ms"] for b in batches) / 1000.0
    return {
        "events": n,
        "batches": len(batches),
        "p50_ms": weighted_quantile(samples, 0.5),
        "p90_ms": weighted_quantile(samples, 0.9),
        "tail_pct": tail,
        "tail_ms": weighted_quantile(samples, tail / 100.0),
        "offered_rows_per_s": offered,
        "processed_rows_per_s": sum(b["rows"] for b in batches) / busy_s if busy_s else 0.0,
        "batches_per_s": len(batches) / busy_s if busy_s else 0.0,
    }


# batch 0 starts workers and state stores and reads no rows; batch 1
# reads the rows created while batch 0 ran, as every later batch reads
# those created while its predecessor ran, and takes about as long
WARM_BATCHES = 1
# each micro-batch takes 5-11 s on 4 cores, so a 10 s window would end
# after one or two of them; always measuring at least two keeps runs
# alike, and the second reads rows created while a measured batch ran
MIN_BATCHES = 2


def _start(spark, seed: int, rate: int, ckpt: str):
    """Start the rate stream through ``stateful_value_ewma`` into a
    ``noop`` sink; returns the running query."""
    from pyspark.sql import functions as F

    from hello_flink_spark.streaming.stateful import stateful_value_ewma
    from perfbench.datagen import stream_events

    src = spark.readStream.format("rate").option("rowsPerSecond", rate).load()
    created = F.unix_millis("created")
    ev = stream_events(src, seed).observe(
        "inv", F.count(F.lit(1)).alias("n"), F.min(created).alias("lo"),
        F.max(created).alias("hi"),
    ).drop("created")
    out = stateful_value_ewma(ev, delay=DELAY)
    # output invariants: every emitted running average lies in the value
    # range [0, 1000) and counts at least one event
    bad = (F.col("n_events") < 1) | F.col("ewma_value").isNull() | (
        F.col("ewma_value") < 0) | (F.col("ewma_value") >= 1000)
    out = out.observe("out", F.count(F.when(bad, 1)).alias("bad"))
    return (
        out.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )


def _wait_for_batch(q, batch_id: int) -> None:
    deadline = time.time() + TIMEOUT_S
    while q.lastProgress is None or q.lastProgress.batchId < batch_id:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if time.time() > deadline:
            raise RuntimeError(f"micro-batch {batch_id} did not commit")
        time.sleep(0.05)


def run_stream(spark, seed: int, seconds: float, rate: int, ckpt: str):
    """Run the rate stream for ``seconds`` after its ``WARM_BATCHES``
    warm-up micro-batches have committed, and until the micro-batch then
    running, and at least ``MIN_BATCHES`` after the warm-up, have
    committed; then stop it.

    Returns the progress dicts of the batches that committed after
    the warm-up."""
    q = _start(spark, seed, rate, ckpt)
    try:
        _wait_for_batch(q, WARM_BATCHES - 1)
        time.sleep(seconds)
        # let the micro-batch in flight at the end of the window commit,
        # so every run measures whole batches up to the window's end
        _wait_for_batch(
            q, max(q.lastProgress.batchId + 1, WARM_BATCHES + MIN_BATCHES - 1)
        )
    finally:
        progress = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
    return [p for p in progress if p["batchId"] >= WARM_BATCHES]


def startup_batch(spark, seed: int, rate: int, ckpt: str) -> dict:
    """Start the rate stream, stop it once its first micro-batch (state
    stores and Python workers started, no rows read yet) has committed,
    and return that batch's progress dict."""
    q = _start(spark, seed, rate, ckpt)
    try:
        _wait_for_batch(q, 0)
    finally:
        progress = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
    return progress[0]

