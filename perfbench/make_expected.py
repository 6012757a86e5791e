"""Write ``perfbench/expected.json``: the result digest of every batch
query on the benchmark's tables.

Run from the repository root: ``python3 -m perfbench.make_expected``.

Each query's digest is taken from its DuckDB oracle SQL; the Spark
result must equal it in three runs. Any disagreement, or a query
without oracle SQL, is printed and the file is not written.
"""

from __future__ import annotations

import json
import os
import sys

os.environ.setdefault("PYTHONPATH", os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
os.environ.setdefault("TZ", "UTC")


def main() -> int:
    from hello_flink_spark.oracle import duck_connection
    from hello_flink_spark.registry import get_spec
    from perfbench.digest import EXPECTED_PATH, digest, frame_digest
    from perfbench.engine import BATCH_QUERIES, CPUS, TABLES_DIR, ensure_tables, set_up

    ensure_tables()
    spark, _ = set_up(CPUS)
    con = duck_connection(TABLES_DIR)
    digests, ok = {}, True
    for name in BATCH_QUERIES:
        spec = get_spec(name)
        if spec.oracle is None:
            print(f"{name}: no DuckDB oracle SQL", file=sys.stderr)
            ok = False
            continue
        want = frame_digest(con.execute(spec.oracle).df())
        runs = set()
        for _ in range(3):
            df = spec.fn(spark, TABLES_DIR)
            runs.add(digest(df.columns, df.collect()))
        if runs != {want}:
            print(f"{name}: Spark result differs from the DuckDB oracle", file=sys.stderr)
            ok = False
        digests[name] = want
        print(f"{name}: {want[:12]}")
    spark.stop()
    if not ok:
        return 1
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
