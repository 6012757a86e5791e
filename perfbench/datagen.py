"""Deterministic inputs for the benchmark.

``write_tables`` writes the ten test-bed tables the declared queries
read (``{dir}/{name}.parquet``) from a fixed seed, so the stored
expected digests hold for every benchmark seed. Row counts are those of
the repository's sf0.01 fixture (the scale its correctness gate runs
at), and every column follows that fixture's measured distribution;
``FIXTURE_STATS`` records the figures each draw reproduces, as a DuckDB
profile of ``sf0.01/*.parquet`` gave them.

``stream_events`` turns Spark's ``rate`` source into events with
seeded ``xxhash64(value, seed)`` draws; ``write_stream_events`` writes
a bounded ``events`` table from the same seed and the same key and
jitter distributions (no late rows) for the end-of-run replay check.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# no declared query's result sits on a rounding boundary at this seed;
# at 20_261_016 one flagship_shipping_priority revenue summed to a
# half cent, and Spark and DuckDB, adding in different orders, rounded
# it apart
DATA_SEED = 20_261_017
SIZES = {"customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
         "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500}

# The sf0.01 fixture as profiled with DuckDB; each draw below cites the
# line it reproduces. Where FIXTURES.md and the parquet disagree the
# parquet wins: its p_brand runs Brand#1..25 near uniformly (62-96 parts
# each), and l_shipdate is drawn independently of o_orderdate (29 157 of
# 60 000 lines ship before their order's date).
FIXTURE_STATS = {
    "customer": "c_nationkey uniform 0..24; c_acctbal uniform [-999.99, 9999.99]; "
                "c_mktsegment uniform over 5 (289-308 each)",
    "supplier": "s_nationkey uniform 0..24; s_acctbal uniform [-999.99, 9999.99]",
    "part": "p_brand uniform Brand#1..25; p_type uniform over 6; p_size uniform 1..50; "
            "p_retailprice = 900 + 0.1 * (p_partkey mod 1000); 64 distinct p_name",
    "orders": "o_custkey uniform (1..25 orders per customer, median 10); o_orderstatus "
              "and o_orderpriority uniform; o_totalprice uniform [1000, 500000]; "
              "o_orderdate uniform days in [1995-01-01, 2001-08-01]",
    "lineitem": "l_orderkey uniform over orders (14 743 of 15 000 orders have lines); "
                "l_linenumber uniform 1..7; l_partkey, l_suppkey uniform; l_quantity "
                "uniform 1..50; l_extendedprice uniform [900, 105000]; l_discount "
                "0.00..0.10 and l_tax 0.00..0.08 in steps of 0.01; the 6 "
                "(l_returnflag, l_linestatus) pairs uniform; l_shipdate uniform days "
                "in [1995-01-02, 2001-11-04]",
    "events": "ts uniform over 2024-01-01 .. 2024-01-30, event_id in time order; user_id "
              "uniform over 150 users (49-86 events each); event_type uniform over 5; "
              "value exponential, mean 49.6, median 34.6; props '{\"k\": 0..99}'",
    "documents": "10-99 words (median 56) drawn uniformly from 30 pseudo-words; 23 of 500 "
                 "texts repeat an earlier text with its last word dropped or ' dup' "
                 "appended; lang en 44 %, es/zh/de/fr 13-15 % each; source src{doc_id "
                 "mod 20}; n_chars = length(text)",
    "embeddings": "64-dim unit vectors; label uniform over 10 classes",
}

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark order data column join small line customer query big stream "
    "window sort filter group vector"
).split()
NEAR_DUP_SHARE = 23 / 500
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENT_USERS_PER_ROW = 150 / 10_000

# the rate stream's draws (see stream_events)
KEYS = 1_000
JITTER_MS = 1_500  # out-of-order jitter, inside the 2 s watermark delay
LATE_PER_MILLE = 5  # share of rows later than the delay
LATE_MS = 5_000


def _days(start: datetime, n: int, rng, days: int) -> np.ndarray:
    d = rng.integers(0, days + 1, n)
    return np.datetime64(start, "us") + d.astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            words = words[:-1] if rng.random() < 0.5 else words + ["dup"]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(["en", "es", "zh", "de", "fr"], n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64, clusters: int = 10) -> dict:
    centers = rng.normal(0.0, 1.0, (clusters, dim))
    label = rng.integers(0, clusters, n)
    vecs = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }


def write_tables(out_dir: str) -> None:
    """Write the ten batch tables under ``out_dir`` (deterministic)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_c, n_s, n_p, n_o, n_l = (
        SIZES[k] for k in ("customer", "supplier", "part", "orders", "lineitem")
    )

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c
        ).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    })
    adjectives = ["small", "red", "blue", "hot", "cold", "large", "shiny", "old"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "spring", "valve", "nut"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_p)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "MEDIUM", "SMALL", "PROMO"], n_p
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_o).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": pa.array(_days(datetime(1995, 1, 1), n_o, rng, 2404),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o
        ).tolist(),
    })
    flags = rng.integers(0, 6, n_l)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(float),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[f % 3] for f in flags],
        "l_linestatus": [("F", "O")[f // 3] for f in flags],
        "l_shipdate": pa.array(_days(datetime(1995, 1, 2), n_l, rng, 2498),
                               pa.timestamp("us")),
    })
    n_e = SIZES["events"]
    span_us = 30 * 86_400 * 1_000_000
    ev_ts = np.sort(rng.integers(0, span_us, n_e)) + np.datetime64("2024-01-01", "us")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(
            rng.integers(0, round(n_e * EVENT_USERS_PER_ROW), n_e), pa.int64()
        ),
        "event_type": rng.choice(EVENT_TYPES, n_e).tolist(),
        "value": np.maximum(np.round(rng.exponential(49.6, n_e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    _write(out_dir, "documents", _documents(rng, SIZES["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, SIZES["embeddings"]))


def write_stream_events(out_dir: str, seed: int, n: int, span_s: float) -> None:
    """Bounded ``events`` table drawn like the rate stream: ``n`` rows
    created evenly over ``span_s`` seconds, skewed keys, event time
    jittered back by up to ``JITTER_MS`` (never beyond the watermark
    delay, so the bounded replay drops nothing)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    created = np.datetime64("2024-01-01", "us") + (
        np.arange(n) * (span_s * 1e6 / n)
    ).astype("timedelta64[us]")
    ts = created - (rng.integers(0, JITTER_MS, n) * 1000).astype("timedelta64[us]")
    u = rng.random(n)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array((KEYS * u**3).astype(np.int64), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.round(rng.uniform(0.0, 1000.0, n), 2),
        "props": ["{}"] * n,
    })


def stream_events(rate_df, seed: int):
    """Turn a ``rate`` source frame into the pipeline's events schema.

    ``created`` is the source's own creation stamp; ``ts`` (event time)
    lags it by a seeded jitter inside the watermark delay, plus
    ``LATE_MS`` for a seeded ``LATE_PER_MILLE`` share. ``user_id`` is
    cubically skewed over ``KEYS`` keys."""
    from pyspark.sql import functions as F

    def draw(salt: int):
        return F.abs(F.xxhash64("value", F.lit(seed * 16 + salt)))

    u = (draw(1) % 1_000_003) / F.lit(1_000_003.0)
    lag_ms = draw(2) % JITTER_MS + F.when(
        draw(3) % 1000 < LATE_PER_MILLE, F.lit(LATE_MS)
    ).otherwise(F.lit(0))
    return rate_df.select(
        F.col("value").alias("event_id"),
        F.timestamp_micros(
            F.unix_micros("timestamp") - lag_ms * 1000
        ).alias("ts"),
        (F.lit(KEYS) * u * u * u).cast("long").alias("user_id"),
        ((draw(4) % 100_000) / 100.0).alias("value"),
        F.col("timestamp").alias("created"),
    )
