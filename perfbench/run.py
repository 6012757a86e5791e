"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch,stream} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Starts one measuring process
(``perfbench.engine``) in its own process group, with the Spark driver,
its JVM and Python workers below it; waits for it, counts ERROR lines
on its standard error, and prints the result as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics. Exits
non-zero, printing no result, when the program or a result is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, ".out")
CHILD_TIMEOUT_S = 170


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _child_env(trace: bool) -> dict:
    tmp = os.path.join(OUT_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={os.path.join(OUT_DIR, 'local')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        evdir = os.path.join(OUT_DIR, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{evdir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_SUBMIT_ARGS": shlex.join(conf + ["pyspark-shell"]),
        "SPARK_DRIVER_MEMORY": "2g",
        # the JVM that spark-submit starts first to build the driver's
        # command line would write its perf data under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(OUT_DIR, "local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    env.pop("SPARK_GRAFT_CPUS", None)
    return env


def _stop_group(child: subprocess.Popen) -> None:
    """Kill what is left of the child's process group and wait until it
    is gone (reaping the child, whose zombie would keep the group)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(child.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            child.poll()
            try:
                os.killpg(child.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; expected one of {names}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "hello_flink_spark", "__init__.py")):
        print("the program (hello_flink_spark/) is not in this checkout", file=sys.stderr)
        return 2

    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    result_path = os.path.join(OUT_DIR, f"result-{tag}.json")
    stderr_path = os.path.join(OUT_DIR, f"stderr-{tag}.log")
    cmd = [
        sys.executable, "-m", "perfbench.engine",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--result", result_path,
    ]
    with open(stderr_path, "w") as err:
        child = subprocess.Popen(cmd, cwd=ROOT, env=_child_env(bool(args.trace)),
                                 stderr=err, start_new_session=True)

        def _terminate(signum, _frame):
            _stop_group(child)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, _terminate)
        signal.signal(signal.SIGINT, _terminate)
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(child)
            child.wait()
    if code != 0 or not os.path.exists(result_path):
        with open(stderr_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"benchmark run failed (exit {code})", file=sys.stderr)
        return 1

    with open(result_path) as fh:
        res = json.load(fh)
    os.remove(result_path)
    with open(stderr_path) as fh:
        errors = sum(1 for line in fh if " ERROR " in line)
    if args.trace:
        want = spec["per_layer"]
        res["layers"]["log.error_lines"] = errors
        source = res["layers"]
    else:
        want = spec["end_to_end"]
        source = res["metrics"]
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in want
    }
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
