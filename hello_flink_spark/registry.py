"""Declared-query registry backing ``__spark_entry__.py``.

Every operator from SURVEY.md §2 that is oracle-expressible ("O" rows)
registers here with BOTH a Spark callable ``(spark, sf_dir) ->
DataFrame`` and the equivalent DuckDB ANSI-SQL string. Rows-only ops
("R" rows) register with ``oracle=None``. Streaming-only ops ("S")
are covered by pytest golden tests, not this registry.

The driver's correctness gate sorts result columns by name and
hash-compares values, so every computed column MUST carry the same
alias in the Spark plan and the oracle SQL (SURVEY §5.1).
"""

from __future__ import annotations

import importlib
import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does a rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}

# Modules that register declared queries on import.
_QUERY_MODULES = [
    "hello_flink_spark.queries.relational",
    "hello_flink_spark.queries.functions",
    "hello_flink_spark.queries.analytic",
    "hello_flink_spark.queries.timewindows",
    "hello_flink_spark.queries.udfs",
    "hello_flink_spark.queries.llm",
    "hello_flink_spark.queries.sources",
    # later modules register last: never-driver-verified queries rank by
    # registration order, so earlier rounds' declared sets clear the
    # driver window before newer ones take slots.
    "hello_flink_spark.queries.extras",
    "hello_flink_spark.queries.round5",
    "hello_flink_spark.queries.round6",
    "hello_flink_spark.queries.round6b",
    "hello_flink_spark.queries.round7",
    "hello_flink_spark.queries.round8",
    "hello_flink_spark.queries.round9",
    "hello_flink_spark.queries.round10",
    "hello_flink_spark.queries.round11",
    "hello_flink_spark.queries.round12",
    "hello_flink_spark.queries.round13",
]


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a declared query under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate declared query: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tuple(tags))
        return fn

    return deco


def _load() -> None:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)


def is_verified(row: object, has_oracle: bool) -> bool:
    """True iff a CORRECTNESS_r*.json row verifies a spec AT ITS CURRENT
    TIER (VERDICT r11 #1: promotion = re-verification).

    Single source of truth shared by the rotation ordering and
    tests/test_bench_contract.py's window guard — the two must never
    disagree. An O-tier spec (``has_oracle``) is verified ONLY by a
    hash-matched row; a rows-only ``no_oracle`` green no longer counts
    once the spec carries an oracle, so promoted queries rank as
    never-verified and re-enter the driver window for a hash check.
    R-tier specs keep counting rows-only greens (their declared design).
    """
    if not isinstance(row, dict):
        return False
    if row.get("hash_match") is True:
        return True
    return (
        not has_oracle
        and row.get("err") == "no_oracle"
        and row.get("spark_rows") is not None
    )


def iter_correctness_rows(repo_root: Path | None = None):
    """Yield ``(round_number, query_name, row)`` from every readable
    ``CORRECTNESS_r{N}.json`` driver artifact at the repo root.

    Single source of truth for artifact discovery and decoding (ADVICE
    r04): skips non-``_r{N}``-suffixed names, unreadable files, invalid
    JSON, and non-dict payloads identically everywhere it is used —
    the rotation ordering below and tests/test_bench_contract.py's
    window guard must never disagree about what the history says.
    """
    if repo_root is None:
        repo_root = Path(__file__).resolve().parent.parent
    for path in sorted(repo_root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            yield rnd, name, row


# VERDICT r14 ("What's wrong" #1 / "Next round" #1): CHANGED code
# outranks merely-STALE code for driver-window slots. Each entry is
# ``(query_name, reverify_before_round)``: the query ranks at the head
# of the rotation — after never-verified names, before the
# staleness-ordered rest — until the driver hash-greens it in a round
# >= ``reverify_before_round``; the pin then self-clears and the
# ordering returns to pure last-green staleness. A cleared pin is
# deleted; the pins that remain have not yet been re-verified.
_ROTATION_HEAD: tuple[tuple[str, int], ...] = (
    # Round-18 OPTIMIZATION pins (reverify_before_round=19): every
    # declared query whose executed code path changed in the r18
    # optimization round — plan/shape rewrites with oracle-identical
    # results, each verified against the sf0.01+sf0.1 oracle (or
    # property/invariant tests for R-tier) before landing; the pin
    # routes them through the driver's own gate promptly, per the r14
    # changed-code-outranks-stale policy. O-tier first. The CC early
    # exit + exit-stage rewrite (operators/graph.py) covers the
    # cluster pair and dedup_semantic_clusters; the minhash entry
    # covers the streamed pair enumeration + the spread feed; the
    # multimodal trio gained the spread on their decode feeds;
    # text_bpe_train_merges gained only a loud vocab-bound guard
    # (error path), pinned anyway because its task code changed.
    ("dedup_minhash_sql", 19),
    ("dedup_minhash_error", 19),  # consumes dedup_minhash_sql's plan
    ("dedup_cluster", 19),
    ("dedup_cluster_stats", 19),
    ("pipeline_training_corpus_v2", 19),
    ("text_decontaminate", 19),
    ("multimodal_resize", 19),
    ("multimodal_audio_stats", 19),
    ("multimodal_audio_resample", 19),
    ("sim_ann_ivf_pq_residual", 19),
    ("dedup_semantic_clusters", 19),
    ("text_bpe_train_merges", 19),
    # The O-tier queries whose sf0.01 plan moved onto the shared
    # in-group pair enumerator (joins.pair_counts); the other queries
    # it changes are pinned above already.
    ("orders_basket_pairs", 19),
    ("events_user_overlap_jaccard", 19),
    ("graph_triangle_count", 19),
    ("graph_degree_stats", 19),
)


def _driver_verified_rounds() -> dict[str, int]:
    """Latest round in which the driver's correctness gate saw each query.

    The driver evaluates at most the first ~50 entries of ``queries()``
    per round (observed: CORRECTNESS_r02.json held exactly the first 50
    registered names). To route every declared query through that window
    over successive rounds, ``all_specs`` orders never-verified queries
    first and least-recently-verified next. The CORRECTNESS_r*.json
    artifacts the driver writes at the repo root are the history.
    """
    rounds: dict[str, int] = {}
    for rnd, name, row in iter_correctness_rows():
        # only rows verified AT THE SPEC'S CURRENT TIER count: a failed
        # row — or a rows-only green for a since-promoted O-tier spec —
        # must rank like never-verified so the driver (re-)hash-checks
        # it right after the fix/promotion lands (VERDICT r11 #1).
        spec = _REGISTRY.get(name)
        has_oracle = spec is not None and spec.oracle is not None
        if is_verified(row, has_oracle):
            rounds[name] = max(rounds.get(name, 0), rnd)
    return rounds


def all_specs() -> dict[str, QuerySpec]:
    _load()
    verified = _driver_verified_rounds()
    order = list(_REGISTRY)
    # Active (not yet self-cleared) rotation-head pins, in pin order.
    head_rank = {
        name: i
        for i, (name, before) in enumerate(_ROTATION_HEAD)
        if name in _REGISTRY and verified.get(name, -1) < before
    }

    def key(n: str) -> tuple[int, int, int]:
        if n not in verified:
            return (0, 0, order.index(n))  # never-verified: always first
        if n in head_rank:
            return (1, head_rank[n], 0)  # changed-code re-verify pins
        return (2, verified[n], order.index(n))  # least-recently-green

    ranked = sorted(order, key=key)
    return {name: _REGISTRY[name] for name in ranked}


def get_spec(name: str) -> QuerySpec:
    _load()
    return _REGISTRY[name]


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def all_oracles() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None
    }
