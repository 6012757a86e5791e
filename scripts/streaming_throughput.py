"""Measure sustained Structured Streaming throughput on this machine
and write docs/STREAMING.md. Two probes, each over key-cardinality
decades (VERDICT r12 #6 — the state-store axis a 100 TB deployment
actually stresses is KEY count, not row rate):

1. JVM stateful pipeline: rate source -> event-time watermark -> 10 s
   tumbling window x K-key aggregation -> memory sink (shuffle +
   state store, whole-stage codegen end to end), K in {100, 1000}.
2. Python keyed-state ops (VERDICT r08 #6): fixed-size micro-batches
   driving ``stateful_value_ewma``, ``stateful_markov_transitions``,
   ``stateful_burst_detector`` and ``stateful_session_funnel`` (rows
   released at the watermark through the reorder buffer: sort + held
   rows), ``count_window_stream`` (rows folded on arrival, no
   watermark), ``stateful_sessionize`` (rows folded on arrival,
   per-user deadlines checked against the watermark) and
   ``cep_click_purchase`` (the compiled CEP NFA, folded on arrival
   like the sessionizer, its open partial matches encoded per user)
   — Arrow transfer
   into applyInPandasWithState, the operator's fold, key-group state
   round-trip — K in {1000, 10000, 100000}. This prices what the
   Python state path costs relative to probe 1, and what a key decade
   costs each path (users per key-group state row).

Probe 1's rate source is asked for more rows/s than the pipeline can
absorb so it runs saturated. Probe 2 reads fixed-size micro-batches
(``rate-micro-batch``) instead: a saturated rate source makes each
batch as large as the rows created while the previous one ran, so on
a host slower than the target rate batch sizes (and memory) grow
without bound. The EWMA takes a 2 s delay and one second of event
time per batch; the others advance 10 minutes of event time per
batch, so the three reorder-buffered ones, with a fixed 30-minute
delay, release rows from the fourth batch on. The reported number is
the median processedRowsPerSecond over the steady-state
micro-batches.

Each probe ends between two micro-batches (the query is stopped as
soon as a micro-batch has finished, while the next one is still
being planned, so no task is cancelled), and its memory table is
dropped before the next probe starts.

Run: python scripts/streaming_throughput.py [seconds]
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

RUN_S = int(sys.argv[1]) if len(sys.argv) > 1 else 30
TARGET_ROWS_PER_S = 5_000_000
JVM_KEYS = (100, 1_000)  # base + one decade in state cardinality
# rows per micro-batch, each batch one second of event time
EWMA_ROWS_PER_BATCH = 200_000
EWMA_KEYS = (1_000, 10_000, 100_000)  # base + two decades
EWMA_DELAY = "2 seconds"  # reorder horizon: releases happen in-probe
# probe name -> (table label, stateful operator, output mode, event
# ms per micro-batch)
PY_OPS = {
    "ewma": ("Python EWMA", "stateful_value_ewma", "update", 1_000),
    "markov": ("Python Markov", "stateful_markov_transitions", "append", 600_000),
    "burst": ("Python burst", "stateful_burst_detector", "update", 600_000),
    "funnel": ("Python funnel", "stateful_session_funnel", "append", 600_000),
    "count_window": ("Python count window", "count_window_stream", "append", 600_000),
    "sessionize": ("Python sessionize", "stateful_sessionize", "append", 600_000),
    "cep": ("Python CEP", "cep_click_purchase", "append", 600_000),
}


def _stop_between_batches(q, wait_s: float) -> None:
    """Stop ``q`` right after a micro-batch finishes: the next one is
    then still on the driver (offsets, write-ahead log, planning), so
    the stop cancels no task — a task cancelled mid-commit logs
    CANNOT_COMMIT errors and breaks its Python worker's pipe. A batch
    still running after ``wait_s`` is stopped where it is."""

    def last() -> int:
        p = q.lastProgress
        return p["batchId"] if p else -1

    done, until = last(), time.monotonic() + wait_s
    while q.isActive and last() == done and time.monotonic() < until:
        time.sleep(0.005)
    q.stop()


def _measure(spark, q, run_s):
    time.sleep(run_s)
    _stop_between_batches(q, run_s)
    progress = list(q.recentProgress)
    # the memory sink keeps every row it received until its view goes
    spark.catalog.dropTempView(q.name)
    active = [
        p
        for p in progress
        if p.get("processedRowsPerSecond") and p["numInputRows"] > 0
    ]
    rates = [p["processedRowsPerSecond"] for p in active]
    latencies = [
        p["durationMs"]["triggerExecution"]
        for p in active
        if p.get("durationMs", {}).get("triggerExecution") is not None
    ]
    # drop the warm-up batches (first quarter)
    steady = rates[max(1, len(rates) // 4):] or rates
    steady_lat = latencies[max(1, len(latencies) // 4):] or latencies
    med = statistics.median(steady) if steady else float("nan")
    med_lat = statistics.median(steady_lat) if steady_lat else float("nan")
    return med, med_lat, max(steady, default=float("nan")), len(steady)


def probe_jvm(spark, keys: int):
    """Probe 1 at ``keys`` state-store groups per window."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", TARGET_ROWS_PER_S)
        .option("numPartitions", 8)
        .load()
        .withWatermark("timestamp", "10 seconds")
        .groupBy(
            F.window("timestamp", "10 seconds"),
            (F.col("value") % keys).alias("k"),
        )
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("total"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(f"throughput_probe_{keys}")
        .outputMode("update")
        .start()
    )
    return _measure(spark, q, RUN_S)


def probe_op(spark, name: str, keys: int):
    """Probe 2 for ``PY_OPS[name]`` at ``keys`` state keys."""
    from pyspark.sql import functions as F

    from hello_flink_spark.streaming import stateful

    _, fn, mode, advance_ms = PY_OPS[name]
    events = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", EWMA_ROWS_PER_BATCH)
        .option("startTimestamp", int(time.time() * 1000))
        .option("advanceMillisPerBatch", advance_ms)
        .option("numPartitions", 8)
        .load()
        .select(
            (F.col("value") % keys).alias("user_id"),
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 97).cast("double").alias("value"),
            F.element_at(
                F.array(*map(F.lit, ("view", "click", "purchase"))),
                (F.col("value") % 3 + 1).cast("int"),
            ).alias("event_type"),
        )
    )
    op = getattr(stateful, fn)
    q = (
        (op(events, delay=EWMA_DELAY) if name == "ewma" else op(events))
        .writeStream.format("memory")
        .queryName(f"throughput_probe_{name}_{keys}")
        .outputMode(mode)
        .start()
    )
    return _measure(spark, q, RUN_S)


def main() -> None:
    from hello_flink_spark.session import get_spark
    from hello_flink_spark.streaming.stateful import KEY_GROUPS

    spark = get_spark("streaming-throughput")

    jvm = {}
    for k in JVM_KEYS:
        jvm[k] = probe_jvm(spark, k)
        print(f"jvm keys={k}: median={jvm[k][0]:,.0f} rows/s "
              f"latency={jvm[k][1]:,.0f} ms ({jvm[k][3]} batches)")
    py = {}
    for name in PY_OPS:
        py[name] = {}
        for k in EWMA_KEYS:
            res = py[name][k] = probe_op(spark, name, k)
            print(f"{name} keys={k}: median={res[0]:,.0f} rows/s "
                  f"latency={res[1]:,.0f} ms ({res[3]} batches)")

    (med, med_lat, peak, batches) = jvm[JVM_KEYS[0]]
    (med2, med_lat2, peak2, batches2) = py["ewma"][EWMA_KEYS[0]]
    decades = "".join(
        f"| {name} | {k:,} | {res[k][0]:,.0f} | {res[k][1]:,.0f} ms | "
        f"{res[k][0] / res[keys[0]][0] if res[keys[0]][0] else float('nan'):.2f}x |\n"
        for name, keys, res in (
            [("JVM window agg", JVM_KEYS, jvm)]
            + [(PY_OPS[n][0], EWMA_KEYS, py[n]) for n in PY_OPS]
        )
        for k in keys
    )

    doc = Path(__file__).resolve().parent.parent / "docs" / "STREAMING.md"
    # preserve the hand-written Kafka deployment recipe (round 7) across
    # probe regens — only the probe section above it is generated
    tail = ""
    if doc.exists():
        old = doc.read_text()
        marker = "# Kafka deployment recipe"
        if marker in old:
            tail = "\n" + old[old.index(marker):]
    doc.write_text(
        "# Streaming throughput probe (generated — "
        "scripts/streaming_throughput.py)\n\n"
        "Saturated rate source through a STATEFUL pipeline (event-time\n"
        f"watermark, 10 s tumbling window x {JVM_KEYS[0]} keys, "
        "update-mode state\n"
        f"store) on {spark.sparkContext.master}, {os.cpu_count()} CPUs:\n\n"
        f"- sustained throughput (median of {batches} steady-state "
        f"micro-batches over ~{RUN_S} s): **{med:,.0f} rows/s**\n"
        f"- peak micro-batch rate: {peak:,.0f} rows/s\n"
        f"- median micro-batch latency (triggerExecution): "
        f"**{med_lat:,.0f} ms**\n\n"
        "## Reorder-buffered Python stateful op (VERDICT r08 #6)\n\n"
        "Same machine, fixed micro-batches of "
        f"{EWMA_ROWS_PER_BATCH:,} rows (one second of\n"
        "event time each, `rate-micro-batch`) driving `stateful_value_ewma`\n"
        f"({EWMA_KEYS[0]} keys, `{EWMA_DELAY}` watermark delay = reorder\n"
        "horizon): Arrow into applyInPandasWithState, per-key buffer\n"
        "sort + strict `ts < cutoff` release, EWMA fold, state\n"
        "round-trip:\n\n"
        f"- sustained throughput (median of {batches2} steady-state "
        f"micro-batches): **{med2:,.0f} rows/s**\n"
        f"- peak micro-batch rate: {peak2:,.0f} rows/s\n"
        f"- median micro-batch latency: **{med_lat2:,.0f} ms**\n\n"
        "The gap vs the JVM probe is the measured price of the Python\n"
        "state path (Arrow transfer + pandas grouping + buffer sort +\n"
        "state encode/decode), not of the reorder logic alone; the\n"
        "buffer holds <= delay x per-key rate rows regardless of\n"
        "stream length. Use the JVM built-ins when the op is\n"
        "expressible; the reorder-buffered tier is for order-sensitive\n"
        "recurrences that are not.\n\n"
        "## Key-cardinality decades (VERDICT r12 #6)\n\n"
        "Same rows, 10x and 100x the STATE KEYS — the axis a 100 TB\n"
        "deployment stresses (state-store size and per-batch group\n"
        "count), measured this run (ratio = rows/s vs the probe's\n"
        "first row). Markov, burst and funnel batches carry 10 minutes\n"
        "of event time under their fixed 30-minute delay, so each one\n"
        "holds about three batches of rows; count window (no\n"
        "watermark), sessionize and the CEP NFA (`cep_click_purchase`)\n"
        "fold each batch's rows on arrival and hold none:\n\n"
        "| probe | keys | median rows/s | median latency | ratio |\n"
        "|---|---|---|---|---|\n"
        f"{decades}\n"
        "Both paths hold their throughput within normal run variance\n"
        "across a key decade when the ratio is near 1.0: state is\n"
        "hash-partitioned, so 10x keys spreads over the same partitions\n"
        "and per-batch work stays row-bound, not key-bound. Each Python\n"
        f"op's state is {KEY_GROUPS} key-group rows whatever the key count:\n"
        "one Python call per touched group per micro-batch, but each\n"
        "touched group re-encodes all its users, so more keys per group\n"
        "costs about a microsecond per user per call. A future\n"
        "ratio well under the recorded floor (BASELINE.md: 0.5x for\n"
        "either path) would mean per-key overhead (state-store lookups,\n"
        "pandas group dispatch) has become the bottleneck.\n\n"
        "Scale note: these are ONE machine's numbers; both plans\n"
        "distribute by key shuffle, so cluster throughput scales with\n"
        "executors until the state store or sink saturates. Latency is\n"
        "micro-batch-quantized (SURVEY §4.4) — this probe measures\n"
        "throughput, not per-event latency.\n" + tail
    )
    print(
        f"jvm median={med:,.0f} rows/s latency={med_lat:,.0f} ms "
        f"({batches} batches); ewma median={med2:,.0f} rows/s "
        f"latency={med_lat2:,.0f} ms ({batches2} batches) -> {doc}"
    )


if __name__ == "__main__":
    main()
