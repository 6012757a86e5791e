"""One benchmark run in its own process: set up Spark, run a workload
for the requested seconds, check every output, and write the result
JSON. ``perfbench/run.py`` starts this module and owns its lifetime.

Run directly (from the repository root) only for debugging:
``python3 -m perfbench.engine --workload batch --seed 1 --seconds 10
--trace 0 --result /path/to/result.json``.
"""

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, ".data")
OUT_DIR = os.path.join(HERE, ".out")
TABLES_DIR = os.path.join(DATA_DIR, "tables")
TABLES_MARK = os.path.join(TABLES_DIR, "_done_v2")

CPUS = "4"
SETUP_REPEATS = 3

# declared queries from three tiers: iterative (Spark jobs launched
# while the query is built), relational (scan, join, window and
# aggregation execution) and the Python boundary (pandas UDFs and the
# pure-Python Avro, protobuf, PNG and WAV codecs)
BATCH_QUERIES = (
    # iterative: connected components, banded candidates
    "dedup_cluster",
    "multimodal_dedup_phash",
    # relational
    "flagship_pricing_summary",
    "flagship_shipping_priority",
    "join_asof",
    "win_topn",
    # Python boundary
    "udf_vectorized",
    "scan_avro_decode",
    "scan_protobuf_decode",
    "multimodal_audio_stats",
)
# every query runs at least this many times and counts at its fastest:
# the first pass pays code generation and the second still runs slower
# than later ones (JIT), and the minimum is the estimate least disturbed
# by other load on the machine (as in bench.py)
MIN_PASSES = 3
# a traced run reports no end-to-end metric, so it makes only the
# passes the traced pass needs before it: a cold one and a warm one to
# compare against
TRACED_RUN_PASSES = 2

STREAM_RATE = 1_000  # rows/s offered, open loop
# tail event-latency limit of the sustained-rate rule: twice the p99.9
# the first version of this benchmark measured (12-14 s on 4 cores)
STREAM_LATENCY_LIMIT_MS = 25_000.0
REPLAY_EVENTS = 1_000
REPLAY_PARTITIONS = 4

# metric names as BENCHMARK.json lists them; a per-layer metric a
# workload does not exercise reads 0
END_TO_END = ("setup_s", "latency_ms", "latency_tail_ms", "ops_per_s")
PER_LAYER = (
    "queries.build_s", "queries.build_jobs", "queries.plan_s", "queries.exec_s",
    "queries.exec_jobs", "queries.exec_stages", "queries.exec_tasks",
    "operators.graph.connected_components_s", "operators.graph.connected_components_jobs",
    "operators.banded_dedup.banded_candidates_s", "operators.scale.spread_small_scan_s",
    "operators.scale.spread_small_scan_calls",
    "sources.readers.load_table_calls", "sources.readers.load_table_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.task_skew",
    "python.bytes_to_worker", "python.bytes_from_worker", "python.run_ms",
    "stream.batches", "stream.batch_ms", "stream.add_batch_ms", "stream.plan_ms",
    "stream.commit_ms", "stream.input_rows", "stream.backlog_rows", "stream.watermark_lag_ms",
    "state.rows_total", "state.rows_updated", "state.memory_bytes", "state.commit_ms",
    "state.dropped_late_rows", "state.rocksdb_commit_ms",
    "peak_rss_mb", "log.error_lines", "tracing.overhead_frac",
    "baseline.local1_suite_s", "baseline.local1_batch_ms",
)


def log(msg: str) -> None:
    print(msg, flush=True)


def unit_of(name: str) -> str:
    """Unit of a printed report metric, from its name's suffix."""
    for suffix, unit in (("rows_per_s", "rows/s"), ("_per_s", "1/s"), ("_ms", "ms"),
                         ("_s", "s"), ("_mb", "MB"), ("_frac", "ratio"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


# ---------------------------------------------------------------------------
# resident memory of the JVM and its Python workers
# ---------------------------------------------------------------------------


def _rss_tree_kb(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of a process tree on a thread; ``peak_mb`` is the
    largest sum seen between ``start`` and ``stop``."""

    def __init__(self, pid: int, every_s: float = 0.25):
        self.pid, self.every_s, self.peak_kb = pid, every_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _rss_tree_kb(self.pid))
            self._stop.wait(self.every_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _rss_tree_kb(self.pid))
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def ensure_tables() -> None:
    if os.path.exists(TABLES_MARK):
        return
    from perfbench.datagen import write_tables

    shutil.rmtree(TABLES_DIR, ignore_errors=True)
    write_tables(TABLES_DIR)
    open(TABLES_MARK, "w").close()


def warm(spark) -> None:
    """Untimed first touches: one table scanned and one pandas UDF
    evaluated, so JVM code loading and Python worker start-up are paid
    before timing."""
    import pandas as pd
    from pyspark.sql import functions as F

    from hello_flink_spark.sources.readers import load_table

    load_table(spark, TABLES_DIR, "lineitem").count()

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(4).select(plus_one("id")).collect()


def set_up(cpus: str):
    """``get_spark`` plus the warm pass, ``SETUP_REPEATS`` times; the
    last session is kept. Returns (spark, seconds per set-up)."""
    from hello_flink_spark.session import get_spark

    times, spark = [], None
    for i in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        warm(spark)
        times.append(time.perf_counter() - t)
    return spark, times


# ---------------------------------------------------------------------------
# batch workload
# ---------------------------------------------------------------------------


class Batch:
    def __init__(self, spark, tracer, seed: int):
        from hello_flink_spark.registry import all_specs
        from perfbench.digest import load_expected

        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.specs = all_specs()
        self.expected = load_expected()
        self.records: list[dict] = []  # one per query execution

    def _jobs_of(self, group: str) -> tuple[int, int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return len(jobs), len(stages), tasks

    def run_query(self, name: str, tag: str, traced: bool) -> dict:
        spec = self.specs[name]
        rec = {"query": name, "pass": tag, "ok": False}
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        try:
            if not traced:
                df = spec.fn(self.spark, TABLES_DIR)
                rows = df.collect()
            else:
                tr = self.tracer
                tr.ctx = f"{tag}:{name}"
                with tr.span("queries.query"):
                    tr.group = f"{tag}:build:{name}"
                    sc.setJobGroup(tr.group, tr.group)
                    with tr.span("queries.build") as build:
                        df = spec.fn(self.spark, TABLES_DIR)
                    with tr.span("queries.plan"):
                        df._jdf.queryExecution().executedPlan()
                    tr.group = f"{tag}:exec:{name}"
                    sc.setJobGroup(tr.group, tr.group)
                    with tr.span("queries.exec") as run:
                        rows = df.collect()
                sc.setJobGroup("perfbench", "perfbench")
                tr.group = None
                rec["build_s"], rec["exec_s"] = build.end - build.start, run.end - run.start
                rec["build_jobs"] = self._jobs_of(f"{tag}:build:{name}")[0]
                rec["exec_jobs"], rec["exec_stages"], rec["exec_tasks"] = self._jobs_of(
                    f"{tag}:exec:{name}"
                )
            rec["wall_s"] = time.perf_counter() - t0
            rec["columns"], rec["rows"] = df.columns, rows
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
            rec["wall_s"] = time.perf_counter() - t0
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        log(f"query {tag} {name} {rec['wall_s']:.3f} s")
        self.records.append(rec)
        return rec

    def run_passes(self, queries, seconds: float, tag: str, traced: bool = False,
                   min_passes: int = 1) -> list[float]:
        """Complete passes over ``queries`` (order shuffled by the seed):
        at least ``min_passes``, and more until ``seconds`` have gone by;
        returns each pass's wall time."""
        times, t_start, i = [], time.perf_counter(), 0
        while i < min_passes or time.perf_counter() - t_start < seconds:
            order = list(queries)
            random.Random(self.seed * 1009 + i).shuffle(order)
            t = time.perf_counter()
            for name in order:
                self.run_query(name, f"{tag}{i}", traced)
            times.append(time.perf_counter() - t)
            i += 1
        return times

    def check(self) -> int:
        """Digest every collected result against the stored digest;
        returns the number of failed executions."""
        from perfbench.digest import digest

        failed = 0
        for rec in self.records:
            if "rows" in rec:
                got = digest(rec.pop("columns"), rec.pop("rows"))
                rec["ok"] = got == self.expected.get(rec["query"])
                if not rec["ok"]:
                    rec["error"] = f"digest {got[:12]} != expected"
            if not rec["ok"]:
                failed += 1
                log(f"FAILED {rec['pass']} {rec['query']}: {rec.get('error')}")
        return failed


def batch_summary(records: list[dict], pass_times: list[float]) -> dict:
    """Per-query fastest wall time over the passes, then: a pass at
    those times (``suite_s``), their geometric mean, median and maximum,
    and the mean of their slowest quarter."""
    by_query: dict[str, list[float]] = {}
    for r in records:
        by_query.setdefault(r["query"], []).append(r["wall_s"])
    best = sorted(min(v) for v in by_query.values())
    suite = sum(best)
    slowest = best[-math.ceil(len(best) / 4):]
    return {
        "suite_s": suite,
        "pass_wall_s": statistics.median(pass_times),
        "passes": len(pass_times),
        "query_geomean_s": math.exp(sum(math.log(max(v, 1e-9)) for v in best) / len(best)),
        "query_p50_ms": statistics.median(best) * 1000.0,
        "query_max_ms": best[-1] * 1000.0,
        "query_top_quarter_ms": statistics.mean(slowest) * 1000.0,
        "queries_per_s": len(best) / suite,
    }


# ---------------------------------------------------------------------------
# stream workload
# ---------------------------------------------------------------------------


def replay_check(spark, seed: int) -> bool:
    """Bounded replay of the stream's draws, out of order within the
    watermark delay and flushed at the end: ``stateful_value_ewma``'s
    final value per user must equal its batch shadow
    ``events_value_ewma``. Run with four state partitions to keep the
    check short; the result does not depend on the partition count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hello_flink_spark.registry import get_spec
    from hello_flink_spark.streaming import replay
    from hello_flink_spark.streaming.stateful import stateful_value_ewma
    from perfbench.datagen import write_stream_events
    from perfbench.stream import DELAY

    base = os.path.join(OUT_DIR, f"replay-{os.getpid()}")
    src, chunks = os.path.join(base, "src"), os.path.join(base, "chunks")
    write_stream_events(src, seed, REPLAY_EVENTS, span_s=60.0)
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(REPLAY_PARTITIONS))
    try:
        replay.chunk_events(spark, src, chunks, n_chunks=2, ooo_within_delay_s=1,
                            flush_tail=True)
        q = (
            stateful_value_ewma(replay.read_stream(spark, chunks), delay=DELAY)
            .writeStream.format("memory")
            .queryName(f"replay_ewma_{os.getpid()}")
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        final = (
            spark.table(f"replay_ewma_{os.getpid()}")
            .filter(F.col("user_id") >= 0)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        got = {r.user_id: (r.n_events, round(r.ewma_value, 6)) for r in final.collect()}
        want = {
            r.user_id: (r.n_events, r.ewma_value)
            for r in get_spec("events_value_ewma").fn(spark, src).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        shutil.rmtree(base, ignore_errors=True)
    if got != want:
        bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        log(f"FAILED replay: {len(bad)} users differ, e.g. {bad[:3]}")
    return got == want


def sustained(summary: dict) -> float:
    """The offered rate if the tail latency met the limit, else the
    processed rate. Each micro-batch reads every row due when it starts,
    so a backlog that grows shows as batches, and latencies, that grow."""
    if summary["tail_ms"] <= STREAM_LATENCY_LIMIT_MS:
        return summary["offered_rows_per_s"]
    return summary["processed_rows_per_s"]


def stream_layers(batches: list[dict]) -> dict:
    """Per-layer stream metrics: sums over measured batches (state size
    and memory: last batch; backlog: largest; watermark lag: median)."""
    m = {
        "stream.batch_ms": sum(b["batch_ms"] for b in batches),
        "stream.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
        "stream.plan_ms": sum(b["plan_ms"] for b in batches),
        "stream.commit_ms": sum(b["commit_log_ms"] for b in batches),
        "stream.input_rows": sum(b["rows"] for b in batches),
        "stream.batches": len(batches),
    }
    backlog, lag = [], []
    for b in batches:
        hi = b["created"][2]
        if hi is not None:
            # rows due by the generator's clock at commit, not yet read
            backlog.append(STREAM_RATE * max(0.0, b["commit_ms"] - hi) / 1000.0)
        if b["watermark_ms"] is not None:
            lag.append(b["commit_ms"] - b["watermark_ms"])
    m["stream.backlog_rows"] = max(backlog, default=0.0)
    m["stream.watermark_lag_ms"] = statistics.median(lag) if lag else 0.0
    st = [b["state"] for b in batches if b["state"]]
    m["state.rows_total"] = st[-1].get("numRowsTotal", 0) if st else 0
    m["state.memory_bytes"] = st[-1].get("memoryUsedBytes", 0) if st else 0
    m["state.rows_updated"] = sum(s.get("numRowsUpdated", 0) for s in st)
    m["state.commit_ms"] = sum(s.get("commitTimeMs", 0) for s in st)
    m["state.dropped_late_rows"] = sum(s.get("numRowsDroppedByWatermark", 0) for s in st)
    m["state.rocksdb_commit_ms"] = sum(
        v for s in st for k, v in (s.get("customMetrics") or {}).items()
        if k.startswith("rocksdbCommit") and k.endswith("LatencyMs")
    )
    return m


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def run_batch(spark, tracer, args, report: dict, layers: dict):
    """Timed passes (and, traced, one traced pass); returns (end-to-end
    metrics, attempted, failed, job groups of the traced pass)."""
    bench = Batch(spark, tracer, args.seed)
    rss = RssSampler(spark._jvm.java.lang.ProcessHandle.current().pid()).start()
    if args.trace:
        pass_times = bench.run_passes(BATCH_QUERIES, 0, "p", min_passes=TRACED_RUN_PASSES)
    else:
        pass_times = bench.run_passes(BATCH_QUERIES, args.seconds, "p", min_passes=MIN_PASSES)
    report["peak_rss_mb"] = rss.stop()
    report.update(batch_summary(list(bench.records), pass_times))
    metrics = {
        "latency_ms": report["query_geomean_s"] * 1000.0,
        # the slowest quarter rather than the single slowest query: one
        # query's time moved twice as much from run to run
        "latency_tail_ms": report["query_top_quarter_ms"],
        "ops_per_s": report["queries_per_s"],
    }
    groups = set()
    if args.trace:
        tracer.enabled = True
        t_traced = bench.run_passes(BATCH_QUERIES, 0, "t", traced=True)
        tracer.enabled = False
        traced_recs = [r for r in bench.records if r["pass"].startswith("t")]
        layers["tracing.overhead_frac"] = t_traced[0] / pass_times[-1] - 1.0
        for r in traced_recs:
            log(f"query {r['query']} wall_s={r['wall_s']:.3f} build_s={r.get('build_s', 0):.3f} "
                f"build_share={r.get('build_s', 0) / r['wall_s']:.2f} "
                f"build_jobs={r.get('build_jobs')} exec_s={r.get('exec_s', 0):.3f} "
                f"exec_jobs={r.get('exec_jobs')} exec_stages={r.get('exec_stages')} "
                f"exec_tasks={r.get('exec_tasks')}")
        for key in ("build_jobs", "exec_jobs", "exec_stages", "exec_tasks"):
            layers[f"queries.{key}"] = sum(r.get(key) or 0 for r in traced_recs)
        groups = {f"t0:{ph}:{q}" for q in BATCH_QUERIES for ph in ("build", "exec")}
    return metrics, len(bench.records), bench.check(), groups


def measure_stream(spark, seed: int, seconds: float, tag: str):
    """The rate stream for ``seconds`` after warm-up; returns (measured
    batch records, progress dicts)."""
    from perfbench.stream import batch_records, run_stream

    ckpt = os.path.join(OUT_DIR, f"ckpt-{tag}-{os.getpid()}")
    try:
        progress = run_stream(spark, seed, seconds, STREAM_RATE, ckpt)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return batch_records(progress), progress


def run_stream_workload(spark, args, report: dict, layers: dict):
    """Timed stream, then its output checks; returns (end-to-end
    metrics, attempted, failed, the stream's job groups)."""
    from perfbench.stream import latency_summary

    rss = RssSampler(spark._jvm.java.lang.ProcessHandle.current().pid()).start()
    batches, progress = measure_stream(spark, args.seed, args.seconds, "timed")
    summary = latency_summary(batches, STREAM_RATE)
    report["peak_rss_mb"] = rss.stop()
    report.update({
        "lat_p50_ms": summary["p50_ms"],
        "lat_p90_ms": summary["p90_ms"],
        "lat_tail_ms": summary["tail_ms"],
        "lat_tail_pct": summary["tail_pct"],
        "events": summary["events"],
        "batches": summary["batches"],
        "processed_rows_per_s": summary["processed_rows_per_s"],
        "batches_per_s": summary["batches_per_s"],
        "sustained_rows_per_s": sustained(summary),
    })
    for b in batches:
        log(f"batch {b['batch']} rows={b['rows']} batch_ms={b['batch_ms']} "
            f"add_batch_ms={b['add_batch_ms']} plan_ms={b['plan_ms']} "
            f"commit_ms={b['commit_log_ms']}")
    if args.trace:
        layers.update(stream_layers(batches))
    failed = sum(1 for b in batches if b["bad_rows"])
    t = time.perf_counter()
    failed += 0 if replay_check(spark, args.seed) else 1
    log(f"replay check {time.perf_counter() - t:.1f} s")
    # events of one micro-batch share its commit, so percentiles
    # above p90 follow the single slowest batch of the run. Rows per
    # second would not do as throughput: each micro-batch reads the rows
    # created while its predecessor ran, so rows over busy time stays
    # near the offered rate however slow a batch is
    metrics = {
        "latency_ms": summary["p50_ms"],
        "latency_tail_ms": summary["p90_ms"],
        "ops_per_s": summary["batches_per_s"],
    }
    return metrics, len(batches) + 1, failed, {p["runId"] for p in progress}


def single_threaded_baseline(tracer, args, layers: dict) -> tuple[int, int]:
    """The workload once more at ``local[1]``; returns (attempted, failed)."""
    from hello_flink_spark.session import get_spark

    spark = get_spark("perfbench-local1", cpus="1")
    warm(spark)
    try:
        if args.workload == "batch":
            base = Batch(spark, tracer, args.seed)
            layers["baseline.local1_suite_s"] = base.run_passes(BATCH_QUERIES, 0, "b")[0]
            return len(base.records), base.check()
        # only the start-up micro-batch, which reads no rows: at local[1]
        # every micro-batch takes 25-35 s, and one after it as well would
        # take the traced run past 150 s of the 180 s a run may take
        from perfbench.stream import startup_batch

        ckpt = os.path.join(OUT_DIR, f"ckpt-local1-{os.getpid()}")
        try:
            first = startup_batch(spark, args.seed, STREAM_RATE, ckpt)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        layers["baseline.local1_batch_ms"] = first["durationMs"]["triggerExecution"]
        return 0, 0
    finally:
        spark.stop()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("batch", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    os.makedirs(OUT_DIR, exist_ok=True)
    t0 = time.perf_counter()

    from perfbench.trace import Tracer, eventlog_totals, layer_totals

    tracer = Tracer()
    if args.trace:
        tracer.install()  # before any query module is imported
    ensure_tables()

    spark, setup_times = set_up(CPUS)
    log(f"phase setup done at {time.perf_counter() - t0:.1f} s: "
        f"{' '.join(f'{t:.2f}' for t in setup_times)}")
    sc = spark.sparkContext
    tracer.jobs_in_group = lambda g: sc.statusTracker().getJobIdsForGroup(g)
    report = {"setup_s": statistics.median(setup_times)}
    layers: dict[str, float] = {}
    if args.workload == "batch":
        metrics, attempted, failed, groups = run_batch(spark, tracer, args, report, layers)
    else:
        metrics, attempted, failed, groups = run_stream_workload(spark, args, report, layers)
    metrics["setup_s"] = report["setup_s"]
    layers["peak_rss_mb"] = report["peak_rss_mb"]
    log(f"phase workload done at {time.perf_counter() - t0:.1f} s")

    if args.trace:
        for name, t in layer_totals(tracer.spans).items():
            layers[f"{name}_s"] = t["s"]
            layers[f"{name}_self_s"] = t["self_s"]
            layers[f"{name}_calls"] = t["calls"]
            layers[f"{name}_jobs"] = t["jobs"]
        app_id = sc.applicationId
        spark.stop()  # finishes the event log
        path = os.path.join(OUT_DIR, "eventlog", app_id)
        if os.path.exists(path):
            layers.update(eventlog_totals(path, groups))
        more, more_failed = single_threaded_baseline(tracer, args, layers)
        attempted, failed = attempted + more, failed + more_failed
        tracer.dump(
            os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json"),
            {"layers": layers, "report": report},
        )

    report["failed_frac"] = failed / max(attempted, 1)
    for k, v in sorted(report.items()):
        log(f"metric {k} {v:.6g} {unit_of(k)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "layers": layers,
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
