"""Property-based invariants (SURVEY §5.4) over generated data —
things the fixture-based oracle can't prove:

- window partition completeness: every event lands in exactly one
  tumbling window / exactly size/slide sliding windows;
- session windows: counts partition the input, intra-session gaps are
  below the timeout;
- dedup idempotence;
- the two as-of join implementations (JVM window vs pandas merge_asof)
  agree on arbitrary inputs;
- semi/anti joins partition the left side.

Examples are deliberately few (Spark job per example); the generators
aim at edge cases — equal timestamps, boundary-aligned timestamps,
empty sides.
"""

from __future__ import annotations

import datetime as dt
from unittest import mock

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hello_flink_spark.operators.joins import asof_join, asof_join_window
from hello_flink_spark.operators.scale import HOT_BROADCAST_MAX
from hello_flink_spark.streaming.stateful import (
    COUNT_EVICT_KEEP,
    COUNT_WINDOW_SIZE,
    GLOBAL_TRIGGER_EVERY,
    INACTIVITY_US,
    SESSION_GAP_US,
)

BASE = dt.datetime(2024, 1, 1)

# seconds offsets; multiples of 60 land exactly on window boundaries
ts_offsets = st.lists(
    st.integers(min_value=0, max_value=3600).map(lambda s: s * 10), min_size=1, max_size=40
)

SETTINGS = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _events_df(spark, offsets):
    rows = [
        (i, BASE + dt.timedelta(seconds=off), i % 3, float(i))
        for i, off in enumerate(offsets)
    ]
    return spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")


@given(offsets=ts_offsets)
@SETTINGS
def test_tumbling_partition_completeness(spark, offsets):
    df = _events_df(spark, offsets)
    win = df.groupBy(F.window("ts", "10 minutes").alias("w")).agg(F.count("*").alias("cnt"))
    rows = win.collect()
    assert sum(r.cnt for r in rows) == len(offsets)
    for r in rows:
        assert (r.w.end - r.w.start).total_seconds() == 600
        # epoch-aligned starts
        assert r.w.start.timestamp() % 600 == 0


@given(offsets=ts_offsets)
@SETTINGS
def test_sliding_each_event_in_exactly_size_over_slide_windows(spark, offsets):
    df = _events_df(spark, offsets)
    win = df.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w")).agg(
        F.count("*").alias("cnt")
    )
    assert sum(r.cnt for r in win.collect()) == 2 * len(offsets)


@given(offsets=ts_offsets)
@SETTINGS
def test_session_windows_partition_and_respect_gap(spark, offsets):
    gap_s = 300
    df = _events_df(spark, offsets)
    sess = df.groupBy(F.session_window("ts", f"{gap_s} seconds").alias("w"), "user_id").agg(
        F.count("*").alias("cnt")
    )
    rows = sess.collect()
    assert sum(r.cnt for r in rows) == len(offsets)
    # per user: session windows don't overlap and are separated by >= gap
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.w.start, r.w.end))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert (s2 - e1).total_seconds() >= 0, "overlapping sessions"


@given(texts=st.lists(st.sampled_from(["a b c", "a b c ", "A b C", "x y", "x  y"]), min_size=1, max_size=20))
@SETTINGS
def test_dedup_exact_idempotent(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    key = F.sha2(F.lower(F.trim("text")), 256).alias("h")
    once = df.select(key, "doc_id").groupBy("h").agg(F.min("doc_id").alias("keep"))
    kept = df.join(once.select(F.col("keep").alias("doc_id")), "doc_id")
    twice = kept.select(key, "doc_id").groupBy("h").agg(F.min("doc_id").alias("keep"))
    assert sorted(r.keep for r in once.collect()) == sorted(r.keep for r in twice.collect())


@pytest.mark.parametrize("direction", ["backward", "forward"])
@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 1000)), min_size=1, max_size=25),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 1000)), min_size=0, max_size=25),
)
@SETTINGS
def test_asof_implementations_agree(spark, direction, left, right):
    """The JVM window formulation and pandas merge_asof must agree on
    arbitrary keyed/timestamped inputs (incl. equal timestamps and
    empty right sides), in BOTH directions. Right side deduped per
    (key, ts) first — the documented determinism precondition."""
    ldf = spark.createDataFrame(
        [(i, k, BASE + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left)],
        "lid long, k long, lts timestamp",
    )
    rdf = (
        spark.createDataFrame(
            [(k, BASE + dt.timedelta(seconds=s), float(i)) for i, (k, s) in enumerate(right)],
            "k long, rts timestamp, rval double",
        )
        .groupBy("k", "rts")
        .agg(F.max("rval").alias("rval"))
    )
    a = asof_join_window(
        ldf, rdf, key="k", left_ts="lts", right_ts="rts", direction=direction
    )
    b = asof_join(
        ldf, rdf, key="k", left_ts="lts", right_ts="rts",
        schema="lid long, k long, lts timestamp, rts timestamp, rval double",
        direction=direction,
    )
    ka = sorted(map(tuple, a.select("lid", "k", "lts", "rts", "rval").collect()))
    kb = sorted(map(tuple, b.collect()))
    assert ka == kb


def test_roman_numeral_roundtrip_full_range():
    """udf_scalar's row-UDF body: every n in 1..3999 encodes to a
    numeral that parses back to n (independent greedy parser), uses
    only valid symbols, and never repeats a subtractive pair."""
    from hello_flink_spark.queries.udfs import _roman_fn

    values = {"M": 1000, "CM": 900, "D": 500, "CD": 400, "C": 100, "XC": 90,
              "L": 50, "XL": 40, "X": 10, "IX": 9, "V": 5, "IV": 4, "I": 1}

    def parse(s: str) -> int:
        total, i = 0, 0
        while i < len(s):
            if s[i : i + 2] in values:
                total += values[s[i : i + 2]]
                i += 2
            else:
                total += values[s[i]]
                i += 1
        return total

    assert _roman_fn(None) is None
    for n in range(1, 4000):
        r = _roman_fn(n)
        assert parse(r) == n, f"{n} -> {r}"


@given(rows=st.lists(st.tuples(st.sampled_from("FOP"), st.integers(1, 5)),
                     min_size=1, max_size=30))
@SETTINGS
def test_pivot_unpivot_roundtrip(spark, rows):
    """pivot → unpivot recovers the original (status, priority) counts."""
    df = spark.createDataFrame(rows, "status string, prio int")
    prios = [str(p) for p in range(1, 6)]
    wide = (
        df.groupBy("status")
        .pivot("prio", prios)
        .agg(F.count(F.lit(1)))
        .na.fill(0, prios)
    )
    back = (
        wide.unpivot(["status"], prios, "prio", "cnt")
        .filter(F.col("cnt") > 0)
        .withColumn("prio", F.col("prio").cast("int"))
    )
    got = {(r.status, r.prio): r.cnt for r in back.collect()}
    want: dict = {}
    for s, p in rows:
        want[(s, p)] = want.get((s, p), 0) + 1
    assert got == want


@given(keys=st.lists(st.integers(0, 5), min_size=1, max_size=30))
@SETTINGS
def test_semi_anti_partition_left(spark, keys):
    left = spark.createDataFrame([(k,) for k in keys], "k long")
    right = spark.createDataFrame([(k,) for k in {0, 2, 4}], "k long")
    semi = left.join(right, "k", "left_semi").count()
    anti = left.join(right, "k", "left_anti").count()
    assert semi + anti == len(keys)


# connected_components labels a graph of at most scale.HOT_BROADCAST_MAX
# entry edges on the driver; a bound of -1 sends every graph, the empty
# one too, through the distributed rounds
CC_PATHS = {"driver": HOT_BROADCAST_MAX, "distributed": -1}


def _cc_spark(spark, edges, path="driver", **kwargs):
    from hello_flink_spark.operators import graph, scale

    df = spark.createDataFrame(edges, "u long, v long")
    with mock.patch.object(scale, "HOT_BROADCAST_MAX", CC_PATHS[path]):
        return {r.node: r.label for r in graph.connected_components(df, **kwargs).collect()}


def _cc_union_find(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def test_connected_components_deep_chain(spark):
    """Diameter-6 chain — the case the old fixed 5-round min-label
    unroll left split (VERDICT r03 'What's wrong' #2): every node must
    converge to label 1, plus a disjoint pair keeps its own label."""
    chain = [(i, i + 1) for i in range(1, 7)]  # 1-2-3-4-5-6-7
    for path in CC_PATHS:
        got = _cc_spark(spark, chain + [(100, 101)], path)
        assert got == {**{n: 1 for n in range(1, 8)}, 100: 100, 101: 100}, path


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=1,
        max_size=40,
    ).filter(lambda es: any(u != v for u, v in es))
)
@SETTINGS
def test_connected_components_match_union_find(spark, edges):
    """Random graphs: labels must equal exact union-find components
    (min node id per component), for every endpoint that has at least
    one real (non-self-loop) edge."""
    real = [(u, v) for u, v in edges if u != v]
    for path in CC_PATHS:
        assert _cc_spark(spark, real, path) == _cc_union_find(real), path


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=1,
        max_size=40,
    ).filter(lambda es: any(u != v for u, v in es))
)
@SETTINGS
def test_connected_components_assume_canonical_identical(spark, edges):
    """r17 optimization guard: on an already-canonical edge set
    (u > v, distinct — the dedup pair-generator contract),
    ``assume_canonical=True`` (which skips the greatest/least swap and
    the distinct exchange) must label every node identically to the
    default path."""
    canon = sorted({(max(u, v), min(u, v)) for u, v in edges if u != v})
    for path in CC_PATHS:
        got_default = _cc_spark(spark, canon, path)
        assert _cc_spark(spark, canon, path, assume_canonical=True) == got_default, path


def test_connected_components_bound_picks_path(spark):
    """A graph of exactly the bound's edge count is labeled on the
    driver, one edge over it runs the rounds; the labels agree."""
    from hello_flink_spark.operators import graph, scale

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)]
    want = _cc_union_find(edges)
    for bound, driver in ((len(edges), True), (len(edges) - 1, False)):
        df = spark.createDataFrame(edges, "u long, v long")
        with mock.patch.object(scale, "HOT_BROADCAST_MAX", bound), mock.patch.object(
            graph, "_union_find_labels", wraps=graph._union_find_labels
        ) as finish:
            got = {r.node: r.label for r in graph.connected_components(df).collect()}
        assert finish.called == driver, bound
        assert got == want, bound


@pytest.mark.parametrize("path", CC_PATHS)
def test_connected_components_drops_self_loops_and_null_endpoints(spark, path):
    """As ``_canonical`` drops them: a node whose only edge is a
    self-loop, or whose only edges have a null other end, gets no
    label, and a null endpoint is never a node."""
    edges = [(1, 2), (3, 3), (4, 4), (4, 5), (None, 6), (7, None), (None, None), (6, 8)]
    assert _cc_spark(spark, edges, path) == {1: 1, 2: 1, 4: 4, 5: 4, 6: 6, 8: 6}


def test_pq_codes_col_matches_assignment_pivot(spark):
    """r17 optimization guard: the map-only per-row code expression
    (``pq_codes_col``, used by sim_ann_ivf_pq's candidate side) must
    reproduce the trainer's own assignment — the groupBy(vec_id) pivot
    of ``assigned`` — code-for-code, tie-breaks included."""
    from pyspark.sql import functions as F

    from hello_flink_spark.queries.llm import _as_double
    from hello_flink_spark.queries.round7 import pq_codes_col, pq_train
    from hello_flink_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    books, assigned = pq_train(spark, sf)
    pivot = {
        r.vec_id: list(r.codes)
        for r in assigned.groupBy("vec_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(sub, code))),"
                " x -> x.code)"
            ).alias("codes")
        )
        .collect()
    }
    vecs = load_table(spark, sf, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    )
    direct = {
        r.vec_id: list(r.codes)
        for r in vecs.select(
            "vec_id", pq_codes_col(books, "vec").alias("codes")
        ).collect()
    }
    assert direct == pivot and len(direct) > 0


def _docs_shingles(spark, sf):
    from hello_flink_spark.queries.llm import _shingle_df
    from hello_flink_spark.sources.readers import load_table

    return _shingle_df(load_table(spark, sf, "documents"))


def _basket_lines(spark, sf):
    from hello_flink_spark.sources.readers import load_table

    return load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")


def _user_event_types(spark, sf):
    from hello_flink_spark.sources.readers import load_table

    return load_table(spark, sf, "events").select("event_type", "user_id").distinct()


def _null_keys(spark, sf):
    """A null group key, which an equi-join never matches, and a null
    member, which matches nothing."""
    rows = [(None, 1), (None, 2), (1, None), (1, 3), (1, 3), (1, 4), (2, 5)]
    return spark.createDataFrame(rows, "g long, x long")


# (frame, group columns, member column, members repeat within a group)
PAIR_INPUTS = {
    "shingles": (_docs_shingles, ["shingle"], "doc_id", False),
    "baskets": (_basket_lines, ["l_orderkey"], "l_partkey", True),
    "event_types": (_user_event_types, ["user_id"], "event_type", False),
    "null_keys": (_null_keys, ["g"], "x", True),
}


@pytest.mark.parametrize("case", PAIR_INPUTS)
def test_pair_counts_match_self_join(spark, sf_dir, case):
    """``joins.pair_counts`` emits exactly the ``(a, b, count)`` rows of
    the counted equi-self-join it replaces — ``x.g = y.g AND x.item <
    y.item GROUP BY`` the two members — for distinct members (shingle
    docs), repeated members (an order that lists a part twice, where
    ``a < b`` drops the equal pairs), string members (event types) and
    null keys and members."""
    from hello_flink_spark.operators.joins import pair_counts

    load, group, item, repeats = PAIR_INPUTS[case]
    frame = load(spark, sf_dir).localCheckpoint()
    assert (frame.count() > frame.distinct().count()) == repeats
    got = sorted(
        tuple(r) for r in pair_counts(frame, group, item, "a", "b", "n").collect()
    )
    on = F.col(f"x.{item}") < F.col(f"y.{item}")
    for g in group:
        on &= F.col(f"x.{g}") == F.col(f"y.{g}")
    ref = sorted(
        tuple(r)
        for r in frame.alias("x")
        .join(frame.alias("y"), on)
        .groupBy(F.col(f"x.{item}").alias("a"), F.col(f"y.{item}").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == ref and got


# The near-dup tier's driver finishes (``llm._shingle_overlap_rows``,
# ``banded_dedup.min_rep_dedup``) read scale.HOT_BROADCAST_MAX at call
# time; patched to -1 it sends every input, the empty one too, through
# the Spark plan (as CC_PATHS does for connected components).
NEAR_DUP_PATHS = {"driver": HOT_BROADCAST_MAX, "spark": -1}

corpora = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.sampled_from(["a", "b", "c", "A", "", "dd"]), max_size=7).map(" ".join),
        st.sampled_from(["  a b c ", "a b", "x"]),
    ),
    max_size=12,
)


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def _overlap_paths(spark, d, driver_bound=HOT_BROADCAST_MAX, spark_bound=-1):
    """Sorted shingle-overlap rows of ``d`` on each path, checking that
    each bound picked the path it names."""
    from hello_flink_spark.operators import scale
    from hello_flink_spark.queries import llm

    out = {}
    for path, bound in (("driver", driver_bound), ("spark", spark_bound)):
        with mock.patch.object(scale, "HOT_BROADCAST_MAX", bound):
            rows = llm._shingle_overlap_rows(d)
        assert (rows is not None) == (path == "driver"), (path, bound)
        out[path] = sorted(tuple(r) for r in llm._shingle_overlap(d, rows).collect())
    return out


@given(texts=corpora)
@example(texts=[])
@example(texts=["a b c"])
@example(texts=[None, "a b", "a b c", "A b c d", "a  b c"])
@SETTINGS
def test_shingle_overlap_driver_matches_spark(spark, texts):
    """Counted on the driver or by the Spark plan, the df-capped pair
    overlap (both_cnt, n_a, n_b) is the same: empty tables, null text,
    docs under 3 tokens, case and spacing included."""
    out = _overlap_paths(spark, _docs(spark, texts))
    assert out["driver"] == out["spark"]


def test_shingle_overlap_df_cap_and_bound_edges(spark):
    """A shingle in exactly SHINGLE_DF_CAP docs pairs them all, one in
    SHINGLE_DF_CAP + 1 pairs none, on both paths; a corpus of exactly
    the bound's shingle rows is counted on the driver, one row over
    runs the Spark plan, with the same result."""
    from hello_flink_spark.queries.llm import SHINGLE_DF_CAP, _shingle_rows

    for k in (SHINGLE_DF_CAP, SHINGLE_DF_CAP + 1):
        d = _docs(spark, [f"x y z w{i}" for i in range(k)] + ["p q r", "p q r s"])
        out = _overlap_paths(spark, d)
        assert out["driver"] == out["spark"], k
        n_pairs = k * (k - 1) // 2 if k <= SHINGLE_DF_CAP else 0
        assert len(out["driver"]) == n_pairs + 1, k
    d = _docs(spark, ["a b c d", "b c d e", "a b c", None, "c d e a b c"])
    n = _shingle_rows(d).count()
    out = _overlap_paths(spark, d, driver_bound=n, spark_bound=n - 1)
    assert out["driver"] == out["spark"] and out["driver"]


def _signed(w):
    return w - (1 << 64) if w >= 1 << 63 else w


sig_words = st.builds(
    lambda base, flips: _signed(base ^ sum(1 << b for b in flips)),
    st.sampled_from([0, 0xFFFF_0000_FFFF_0000, 0x1234_5678_9ABC_DEF0, (1 << 64) - 1]),
    st.sets(st.integers(0, 63), max_size=3),
)


def _min_rep(spark, rows, bound, **kwargs):
    """(sorted (doc_id, sig, keep_doc_id) rows, capped bucket count)."""
    from hello_flink_spark.operators import banded_dedup, scale

    sigs = spark.createDataFrame(rows, "doc_id long, sig array<long>")
    with mock.patch.object(scale, "HOT_BROADCAST_MAX", bound):
        out = banded_dedup.min_rep_dedup(sigs, **kwargs).collect()
    return (
        sorted((r.doc_id, tuple(r.sig), r.keep_doc_id) for r in out),
        banded_dedup.LAST_BAND_METRICS["capped_buckets"],
    )


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 30), st.lists(sig_words, min_size=1, max_size=2)),
        max_size=20,
    ),
    cap=st.sampled_from([1, 2, 32]),
)
@example(rows=[], cap=32)
@example(rows=[(1, [5])], cap=32)
@example(rows=[(1, [5]), (2, None), (3, [4]), (3, [7, 1])], cap=1)
@SETTINGS
def test_min_rep_dedup_driver_matches_spark(spark, rows, cap):
    """Signatures with negative words, several words, unequal lengths
    and doc ids shared by different signatures: the driver finish
    gives the Spark plan's keep_doc_id and capped-bucket count, with
    hub-star chaining engaged by the small caps."""
    got = {p: _min_rep(spark, rows, b, cap=cap) for p, b in NEAR_DUP_PATHS.items()}
    assert got["driver"] == got["spark"]


def test_min_rep_dedup_bucket_cap_and_bound_edges(spark):
    """k signatures i << 16 share the three zero-valued band buckets:
    at k = BAND_BUCKET_CAP they stay all-pairs, at BAND_BUCKET_CAP + 1
    all three are capped, on both paths alike. A frame of exactly the
    bound's rows is finished on the driver, one row over runs the
    Spark plan."""
    from hello_flink_spark.operators import banded_dedup

    cap = banded_dedup.BAND_BUCKET_CAP
    for k, capped in ((cap, 0), (cap + 1, 3)):
        rows = [(i, [i << 16]) for i in range(k)]
        got = {p: _min_rep(spark, rows, b) for p, b in NEAR_DUP_PATHS.items()}
        assert got["driver"] == got["spark"], k
        assert got["driver"][1] == capped, k
    results = []
    for bound, on_driver in ((len(rows), True), (len(rows) - 1, False)):
        with mock.patch.object(
            banded_dedup, "banded_candidates", wraps=banded_dedup.banded_candidates
        ) as spark_plan:
            results.append(_min_rep(spark, rows, bound))
        assert spark_plan.called != on_driver, bound
    assert results[0] == results[1]


def test_approx_quantiles_within_rank_error(spark):
    """agg_approx_quantile_merge invariant: each approximate quantile
    must land within epsilon = 1/accuracy RANK error of the exact
    order statistic (the Greenwald-Khanna guarantee) — verified per
    event type against exact sorted values at sf0.01."""
    from hello_flink_spark.registry import get_spec
    from hello_flink_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.01"
    approx = {
        r.event_type: (r.p50, r.p90, r.p99)
        for r in get_spec("agg_approx_quantile_merge").fn(spark, sf).collect()
    }
    rows = load_table(spark, sf, "events").select("event_type", "value").collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r.value)
    eps = 1.0 / 10000
    for etype, vals in by_type.items():
        vals.sort()
        n = len(vals)
        for q, got in zip((0.5, 0.9, 0.99), approx[etype]):
            lo = vals[max(0, int((q - eps) * n) - 1)]
            hi = vals[min(n - 1, int((q + eps) * n) + 1)]
            assert lo <= got <= hi, (
                f"{etype} q={q}: {got} outside rank band [{lo}, {hi}]"
            )


def _cep_reference(events, steps, window_s):
    """Independent pure-Python model of the compiled batch semantics:
    for each stage-1 event (the anchor), chain 'first strictly-later
    event of the next step's type within the window' — written as
    direct nested loops, sharing no code with streaming/cep.py."""
    out = []
    per_user: dict = {}
    for uid, eid, ts, etype in events:
        per_user.setdefault(uid, []).append((eid, ts, etype))
    for uid, evs in per_user.items():
        for eid, ts0, etype in evs:
            if etype != steps[0]:
                continue
            chain = [ts0]
            ok = True
            for step in steps[1:]:
                cands = [
                    t2
                    for _, t2, e2 in evs
                    if e2 == step and t2 > chain[-1] and t2 <= chain[-1] + window_s
                ]
                if not cands:
                    ok = False
                    break
                chain.append(min(cands))
            if ok:
                out.append((uid, eid, *chain))
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),          # user_id
            st.integers(0, 10_000),     # event_id (uniqueness enforced below)
            st.integers(0, 120),        # ts seconds
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=25,
    )
)
@SETTINGS
def test_cep_batch_compiler_matches_reference_model(spark, events):
    """Random micro-streams (duplicate timestamps, repeated types,
    boundary-exact windows) through the CEP batch compiler must equal
    an independently written reference model — the fixture golden
    tests can't reach these edges."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import CepPattern, compile_batch

    # unique event ids; pattern a->b->a exercises a repeated type
    events = [(u, i, ts, e) for i, (u, _, ts, e) in enumerate(events)]
    pat = CepPattern(steps=("a", "b", "a"), within_minutes=1)
    pdf = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in events],
            "event_id": [i for _, i, _, _ in events],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in events],
            "event_type": [e for _, _, _, e in events],
            "value": [0.0] * len(events),
        }
    )
    df = spark.createDataFrame(pdf)
    got = sorted(
        (
            r["user_id"],
            r[pat.anchor_col],
            int(r[pat.ts_col(0)].timestamp()),
            int(r[pat.ts_col(1)].timestamp()),
            int(r[pat.ts_col(2)].timestamp()),
        )
        for r in compile_batch(pat, df).collect()
    )
    want = _cep_reference(events, ("a", "b", "a"), 60)
    assert got == want


def test_count_min_never_undercounts(spark, sf_dir):
    """Count-min guarantee (any scale, any data): the sketch estimate
    is >= the true frequency for every queried key, with equality when
    no other key collides into all 4 of its buckets."""
    from hello_flink_spark.registry import get_spec

    pdf = get_spec("agg_count_min").fn(spark, sf_dir).toPandas()
    assert len(pdf) == 10
    assert (pdf["est_cnt"] >= pdf["true_cnt"]).all()
    assert (pdf["overcount"] == pdf["est_cnt"] - pdf["true_cnt"]).all()


def _cep_reference_timeouts(events, steps, window_s):
    """Reference model for the timeout variant: EVERY anchor appears;
    the chain stops at the first missing stage (None padding) and
    matched marks completion. Shares no code with streaming/cep.py."""
    out = []
    per_user: dict = {}
    for uid, eid, ts, etype in events:
        per_user.setdefault(uid, []).append((eid, ts, etype))
    for uid, evs in per_user.items():
        for eid, ts0, etype in evs:
            if etype != steps[0]:
                continue
            chain = [ts0]
            for step in steps[1:]:
                cands = [
                    t2
                    for _, t2, e2 in evs
                    if e2 == step and t2 > chain[-1] and t2 <= chain[-1] + window_s
                ]
                if not cands:
                    break
                chain.append(min(cands))
            padded = chain + [None] * (len(steps) - len(chain))
            out.append((uid, eid, *padded, len(chain) == len(steps)))
    return sorted(out, key=lambda t: tuple((x is None, x) for x in t))


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),
            st.integers(0, 10_000),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=25,
    )
)
@SETTINGS
def test_cep_timeout_compiler_matches_reference_model(spark, events):
    """The LEFT-join timeout chain (cep_pattern_timeout's shape) must
    equal an independent reference on random micro-streams: every
    anchor present, prefix stops at the first missing stage, matched
    flag only on full chains."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import CepPattern, compile_batch_timeouts

    events = [(u, i, ts, e) for i, (u, _, ts, e) in enumerate(events)]
    pat = CepPattern(steps=("a", "b", "a"), within_minutes=1)
    pdf = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in events],
            "event_id": [i for _, i, _, _ in events],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in events],
            "event_type": [e for _, _, _, e in events],
            "value": [0.0] * len(events),
        }
    )
    df = spark.createDataFrame(pdf)
    got = sorted(
        (
            (
                r["user_id"],
                r[pat.anchor_col],
            )
            + tuple(
                None if r[pat.ts_col(i)] is None else int(r[pat.ts_col(i)].timestamp())
                for i in range(3)
            )
            + (r["matched"],)
        )
        for r in compile_batch_timeouts(pat, df).collect()
    )
    got = sorted(got, key=lambda t: tuple((x is None, x) for x in t))
    want = _cep_reference_timeouts(events, ("a", "b", "a"), 60)
    assert got == want


def _oneplus_sim(evs, steps, rep, window_s):
    """Independent per-anchor simulation of the reluctant oneOrMore
    semantics (CepPattern.one_or_more): each anchor event is simulated
    alone against the events after it — valid because partials never
    interact — with the repeated step sliding its window over the run.
    Shares no code or data layout with streaming/cep.py's partial-list
    NFA."""
    k = len(steps)
    out = []
    for pos, (uid, aid, ts0, etype0) in enumerate(evs):
        if etype0 != steps[0]:
            continue
        tss, cnt = [ts0], 0
        for uid2, eid, ts, etype in evs[pos + 1:]:
            if uid2 != uid:
                continue
            if ts - tss[-1] > window_s:
                break  # expired: nothing later can be in-window either
            stage = len(tss)
            if stage == rep + 1 and etype == steps[rep] and ts > tss[-1]:
                tss[-1] = ts
                cnt += 1
                continue
            if stage < k and etype == steps[stage] and ts > tss[-1]:
                tss.append(ts)
                if stage == rep:
                    cnt = 1
                if len(tss) == k:
                    out.append((uid, aid, *tss, cnt))
                    break
    return sorted(out)


def _fold_nfa(proc, uid, parts):
    """Fold one user's micro-batch frames through a ``_make_processor``
    NFA outside Spark, as the key-group driver folds on arrival: each
    non-empty frame's rows sorted by (ts, event_id), then folded onto
    the partials the previous fold returned. Yields one output frame
    per fold."""
    scalars = None
    for part in parts:
        if part.empty:
            continue
        ready = sorted(
            zip(
                part["ts"].astype("int64").tolist(),
                part["event_id"].tolist(),
                part["event_type"].tolist(),
                part["value"].tolist(),
            ),
            key=lambda r: r[:2],
        )
        scalars, out = proc.fold(uid, scalars, ready, None)
        yield pd.DataFrame(out, columns=proc.columns)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),          # user_id
            st.integers(0, 120),        # ts seconds
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_oneplus_nfa_matches_simulation_any_chunking(events, cuts):
    """Kleene oneOrMore (reluctant): the NFA fold, driven directly
    (``_fold_nfa``) over ARBITRARY time-ordered micro-batch
    splits, must produce exactly the matches of an independent
    per-anchor simulation — and therefore the same matches for every
    chunking (batch-split invariance is what makes the streaming
    operator deterministic)."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import _make_processor

    steps, rep, window_s = ("a", "b", "c"), 1, 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _oneplus_sim(
        [(u, i, t, e) for u, i, t, e in evs], steps, rep, window_s
    )

    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in evs],
            "event_id": [i for _, i, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in evs],
            "event_type": [e for _, _, _, e in evs],
            "value": [0.0] * len(evs),
        }
    )
    bounds = sorted({c for c in cuts if c < len(evs)} | {0, len(evs)})
    chunks = [
        rows.iloc[a:b]
        for a, b in zip(bounds, bounds[1:])
        if b > a
    ]

    proc = _make_processor(steps, window_s * 1_000_000, rep=rep)
    got = []
    for uid in sorted(rows["user_id"].unique()):
        for out in _fold_nfa(proc, uid, [c[c["user_id"] == uid] for c in chunks]):
            got.extend(
                (
                    r.user_id,
                    r.anchor_id,
                    *(int(getattr(r, f"ts{j + 1}").timestamp()) for j in range(3)),
                    r.n_rep,
                )
                for r in out.itertuples()
            )
    assert sorted(got) == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),                     # user_id
            st.integers(0, 120),                   # ts seconds
            st.sampled_from(["a", "b", "c"]),
            st.sampled_from([0.0, 50.0, 100.0]),   # value
        ),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_cep_oneplus_guard_tier_composes(events):
    """Kleene × guard orthogonality: a value guard on the REPEATED step
    must gate both the run's first occurrence and every extension —
    verified against the independent per-anchor simulation with the
    guard applied by pre-filtering (an event failing the guard must
    behave exactly as if its type never matched the step)."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import _make_processor

    steps, rep, window_s, floor = ("a", "b", "c"), 1, 60, 100.0
    evs = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    # guard == pre-filter: a 'b' below the floor can neither start nor
    # extend a run, but must still be processed as a no-op
    sim_evs = [
        (u, i, t, e)
        for u, i, t, e, v in evs
        if not (e == "b" and v < floor)
    ]
    want = _oneplus_sim(sim_evs, steps, rep, window_s)

    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _, _ in evs],
            "event_id": [i for _, i, _, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _, _ in evs],
            "event_type": [e for _, _, _, e, _ in evs],
            "value": [v for _, _, _, _, v in evs],
        }
    )
    proc = _make_processor(
        steps, window_s * 1_000_000, mins=(None, floor, None), rep=rep
    )
    got = []
    for uid in sorted(rows["user_id"].unique()):
        for out in _fold_nfa(proc, uid, [rows[rows["user_id"] == uid]]):
            got.extend(
                (
                    r.user_id,
                    r.anchor_id,
                    *(int(getattr(r, f"ts{j + 1}").timestamp()) for j in range(3)),
                    r.n_rep,
                )
                for r in out.itertuples()
            )
    assert sorted(got) == want


def _optional_sim(evs, steps, optionals, window_s):
    """Independent per-anchor simulation of optional-step semantics
    (CepPattern.optional_steps, first-event-wins): at an optional
    stage, whichever arrives first — the optional step's event (taken;
    later windows measure from it) or the successor's event (optional
    slot completed as None) — decides. Shares no code with
    streaming/cep.py."""
    k = len(steps)
    out = []
    for pos, (uid, aid, ts0, et0) in enumerate(evs):
        if et0 != steps[0]:
            continue
        tss = [ts0]
        for uid2, eid, ts, et in evs[pos + 1:]:
            if uid2 != uid:
                continue
            if ts - tss[-1] > window_s:
                break
            stage = len(tss)
            if et == steps[stage] and ts > tss[-1]:
                tss.append(ts)
            elif (
                stage in optionals
                and et == steps[stage + 1]
                and ts > tss[-1]
            ):
                tss.append(None)
                tss.append(ts)
            if len(tss) == k:
                out.append((uid, aid, *tss))
                break
    return sorted(out, key=lambda r: tuple(-1 if x is None else x for x in r[2:]) + r[:2])


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),          # user_id
            st.integers(0, 120),        # ts seconds
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_optional_nfa_matches_simulation(events, cuts):
    """optional() in the NFA: arbitrary time-ordered micro-batch splits
    through the processor must equal the independent per-anchor
    simulation, including NULL optional slots and exact-tie resolution
    by event_id order."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import _make_processor

    steps, optionals, window_s = ("a", "b", "c"), frozenset({1}), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _optional_sim(evs, steps, optionals, window_s)

    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in evs],
            "event_id": [i for _, i, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in evs],
            "event_type": [e for _, _, _, e in evs],
            "value": [0.0] * len(evs),
        }
    )
    bounds = sorted({c for c in cuts if c < len(evs)} | {0, len(evs)})
    chunks = [rows.iloc[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]

    proc = _make_processor(steps, window_s * 1_000_000, optionals=optionals)
    got = []
    for uid in sorted(rows["user_id"].unique()):
        for out in _fold_nfa(proc, uid, [c[c["user_id"] == uid] for c in chunks]):
            got.extend(
                (
                    r.user_id,
                    r.anchor_id,
                    *(
                        None
                        if pd.isna(getattr(r, f"ts{j + 1}"))
                        else int(getattr(r, f"ts{j + 1}").timestamp())
                        for j in range(3)
                    ),
                )
                for r in out.itertuples()
            )
    got.sort(key=lambda r: tuple(-1 if x is None else x for x in r[2:]) + r[:2])
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_cep_optional_batch_matches_reference_model(spark, events):
    """optional() in the batch join chain (three-join pair +
    first-event-wins CASE) must equal the simulation on TIE-FREE
    micro-streams (exact cross-type ties resolve by event_id in the
    NFA but by strict < in SQL — documented divergence, absent from
    the µs fixture, excluded here by deduplicating (user, ts))."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import CepPattern, compile_batch

    seen = set()
    uniq = []
    for i, (u, t, e) in enumerate(events):
        if (u, t) in seen:
            continue
        seen.add((u, t))
        uniq.append((u, i, t, e))
    uniq.sort(key=lambda x: (x[2], x[1]))
    want = _optional_sim(uniq, ("a", "b", "c"), frozenset({1}), 60)

    pat = CepPattern(steps=("a", "b", "c"), within_minutes=1, optional_steps=(1,))
    pdf = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in uniq],
            "event_id": [i for _, i, _, _ in uniq],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in uniq],
            "event_type": [e for _, _, _, e in uniq],
            "value": [0.0] * len(uniq),
        }
    )
    df = spark.createDataFrame(pdf)
    got = sorted(
        (
            (
                r["user_id"],
                r[pat.anchor_col],
                int(r[pat.ts_col(0)].timestamp()),
                None if r[pat.ts_col(1)] is None else int(r[pat.ts_col(1)].timestamp()),
                int(r[pat.ts_col(2)].timestamp()),
            )
            for r in compile_batch(pat, df).collect()
        ),
        key=lambda r: tuple(-1 if x is None else x for x in r[2:]) + r[:2],
    )
    assert got == want


def test_cep_optional_timeout_chain_consistent(spark, sf_dir):
    """optional() × timeout-chain coherence on the fixture: the LEFT
    timeout chain's matched=true rows must equal compile_batch's
    matches exactly, and every unmatched row must be a genuine dead
    partial — anchor present, final stage NULL."""
    from hello_flink_spark.sources.readers import load_table

    from hello_flink_spark.streaming.cep import OPT3, compile_batch, compile_batch_timeouts

    events = load_table(spark, sf_dir, "events")
    cols = ["user_id", OPT3.anchor_col] + [OPT3.ts_col(i) for i in range(3)]

    def keyset(df):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    to = compile_batch_timeouts(OPT3, events)
    assert keyset(to.filter("matched")) == keyset(compile_batch(OPT3, events))
    dead = to.filter("NOT matched").collect()
    assert all(r[OPT3.ts_col(2)] is None for r in dead)
    assert all(r[OPT3.ts_col(0)] is not None for r in dead)


def test_cep_absence_with_optional_final_predecessor(spark):
    """Regression (review finding): when the step before the negated
    final step is OPTIONAL, a partial that skipped it is still a
    genuine absence — a lone 'view' with no click and no purchase must
    be an abandonment match for view -> click? -> notFollowedBy
    purchase, not silently dropped by filtering on the optional slot."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import CepPattern, compile_batch_absence

    pat = CepPattern(
        steps=("view", "click", "purchase"), within_minutes=12, optional_steps=(1,)
    )

    def run(rows):
        pdf = pd.DataFrame(
            {
                "user_id": [1] * len(rows),
                "event_id": list(range(len(rows))),
                "ts": [pd.Timestamp(t, unit="m") for t, _ in rows],
                "event_type": [e for _, e in rows],
                "value": [0.0] * len(rows),
            }
        )
        return compile_batch_absence(pat, spark.createDataFrame(pdf)).collect()

    lone_view = run([(0, "view")])
    assert len(lone_view) == 1 and lone_view[0][pat.ts_col(1)] is None

    view_click = run([(0, "view"), (5, "click")])
    assert len(view_click) == 1 and view_click[0][pat.ts_col(1)] is not None

    # a purchase inside the window kills the absence on both paths
    assert run([(0, "view"), (5, "purchase")]) == []
    assert run([(0, "view"), (5, "click"), (8, "purchase")]) == []


def _cep_full_sim(evs, steps, rep, optionals, window_s):
    """Per-anchor simulation with BOTH modifier tiers active: reluctant
    oneOrMore at step ``rep`` and skippable steps in ``optionals`` —
    the composition the individual sims can't exercise (skip INTO the
    repeated step must start its count at 1; skip OUT of the run ends
    it at the last accepted repetition)."""
    k = len(steps)
    out = []
    for pos, (uid, aid, ts0, et0) in enumerate(evs):
        if et0 != steps[0]:
            continue
        tss, cnt = [ts0], 0
        for uid2, eid, ts, et in evs[pos + 1:]:
            if uid2 != uid:
                continue
            if ts - tss[-1] > window_s:
                break
            stage = len(tss)
            if rep is not None and stage == rep + 1 and et == steps[rep] and ts > tss[-1]:
                tss[-1] = ts
                cnt += 1
                continue
            if stage < k and et == steps[stage] and ts > tss[-1]:
                tss.append(ts)
                if stage == rep:
                    cnt = 1
            elif (
                stage in optionals
                and et == steps[stage + 1]
                and ts > tss[-1]
            ):
                tss.append(None)
                tss.append(ts)
                if stage + 1 == rep:
                    cnt = 1
            if len(tss) == k:
                out.append((uid, aid, *tss, cnt))
                break
    return sorted(
        out, key=lambda r: tuple(-1 if x is None else x for x in r[2:]) + r[:2]
    )


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 100),
            st.sampled_from(["a", "b", "c", "d"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=3),
)
@SETTINGS
def test_cep_kleene_and_optional_compose_in_nfa(events, cuts):
    """oneOrMore × optional in ONE pattern (a, b+, c?, d): the NFA over
    arbitrary micro-batch splits must equal the combined simulation —
    a run extended then exited via the skip path keeps its n_rep, and
    a 'd' completing from the run's last 'b' (skipping optional 'c')
    reports the c slot NULL."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import _make_processor

    steps, rep, optionals, window_s = ("a", "b", "c", "d"), 1, frozenset({2}), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _cep_full_sim(evs, steps, rep, optionals, window_s)

    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in evs],
            "event_id": [i for _, i, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in evs],
            "event_type": [e for _, _, _, e in evs],
            "value": [0.0] * len(evs),
        }
    )
    bounds = sorted({c for c in cuts if c < len(evs)} | {0, len(evs)})
    chunks = [rows.iloc[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]

    proc = _make_processor(steps, window_s * 1_000_000, rep=rep, optionals=optionals)
    got = []
    for uid in sorted(rows["user_id"].unique()):
        for out in _fold_nfa(proc, uid, [c[c["user_id"] == uid] for c in chunks]):
            got.extend(
                (
                    r.user_id,
                    r.anchor_id,
                    *(
                        None
                        if pd.isna(getattr(r, f"ts{j + 1}"))
                        else int(getattr(r, f"ts{j + 1}").timestamp())
                        for j in range(4)
                    ),
                    r.n_rep,
                )
                for r in out.itertuples()
            )
    got.sort(key=lambda r: tuple(-1 if x is None else x for x in r[2:]) + r[:2])
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
            st.sampled_from([0.0, 50.0, 100.0]),
        ),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_cep_optional_guard_tier_composes(events):
    """Guard × optional orthogonality: a value floor on the OPTIONAL
    step must make under-floor events behave exactly as if absent —
    they neither take the slot nor block the skip path. Verified
    against the simulation with the guard applied by pre-filtering."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import _make_processor

    steps, optionals, window_s, floor = ("a", "b", "c"), frozenset({1}), 60, 100.0
    evs = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    sim_evs = [
        (u, i, t, e) for u, i, t, e, v in evs if not (e == "b" and v < floor)
    ]
    want = _optional_sim(sim_evs, steps, optionals, window_s)

    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _, _ in evs],
            "event_id": [i for _, i, _, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _, _ in evs],
            "event_type": [e for _, _, _, e, _ in evs],
            "value": [v for _, _, _, _, v in evs],
        }
    )
    proc = _make_processor(
        steps, window_s * 1_000_000, mins=(None, floor, None), optionals=optionals
    )
    got = []
    for uid in sorted(rows["user_id"].unique()):
        for out in _fold_nfa(proc, uid, [rows[rows["user_id"] == uid]]):
            got.extend(
                (
                    r.user_id,
                    r.anchor_id,
                    *(
                        None
                        if pd.isna(getattr(r, f"ts{j + 1}"))
                        else int(getattr(r, f"ts{j + 1}").timestamp())
                        for j in range(3)
                    ),
                )
                for r in out.itertuples()
            )
    got.sort(key=lambda r: tuple(-1 if x is None else x for x in r[2:]) + r[:2])
    assert got == want


# ---------------------------------------------------------------------------
# round-7 CEP tiers: times(n), pattern-global within, strict contiguity,
# timesOrMore, AfterMatchSkipStrategy (streaming/cep.py)
# ---------------------------------------------------------------------------


def _drive_nfa_chunked(proc, evs, cuts, k, extra_cols=()):
    """Drive a _make_processor fold through ARBITRARY time-ordered
    micro-batch splits via ``_fold_nfa``; returns sorted match
    tuples (uid, aid, ts..., *extra_cols). Value-less events — the
    values-aware twin ``_drive_nfa_chunked_v`` (defined later in this
    module) is the single implementation."""
    return _drive_nfa_chunked_v(
        proc, [(u, i, t, e, 0.0) for u, i, t, e in evs], cuts, k, extra_cols
    )


def _strict_sim(evs, steps, strict, window_s, total_s=None):
    """Independent per-anchor model of strict contiguity ([F] next()):
    at a strict stage, the earliest strictly-later event of ANY type
    within the window(s) decides — promote iff some event at that exact
    timestamp matches the step's type, else the anchor is dead (a
    contiguity violation, silent). Shares no code with
    streaming/cep.py's grouped pending-kill NFA."""
    out = []
    k = len(steps)
    for uid, aid, ts0, et0 in evs:
        if et0 != steps[0]:
            continue
        tss = [ts0]
        ok = True
        for i in range(1, k):
            cands = [
                (t2, e2)
                for uid2, _, t2, e2 in evs
                if uid2 == uid
                and t2 > tss[-1]
                and t2 <= tss[-1] + window_s
                and (total_s is None or t2 <= ts0 + total_s)
            ]
            if i in strict:
                if not cands:
                    ok = False
                    break
                t_min = min(t2 for t2, _ in cands)
                if any(e2 == steps[i] for t2, e2 in cands if t2 == t_min):
                    tss.append(t_min)
                else:
                    ok = False
                    break
            else:
                hits = [t2 for t2, e2 in cands if e2 == steps[i]]
                if not hits:
                    ok = False
                    break
                tss.append(min(hits))
        if ok:
            out.append((uid, aid, *tss))
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "x"]),  # x: foreign type that
        ),                                           # can break contiguity
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_strict_nfa_matches_simulation_any_chunking(events, cuts):
    """Strict contiguity ([F] next()) in the NFA: the grouped
    pending-kill mechanism must produce exactly the per-anchor
    simulation's matches under EVERY micro-batch split — including
    splits inside an equal-timestamp group, which is what the deferred
    kill marker exists for."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, strict, window_s = ("a", "b", "c"), frozenset({1}), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _strict_sim(evs, steps, strict, window_s)
    proc = _make_processor(steps, window_s * 1_000_000, strict=strict)
    assert _drive_nfa_chunked(proc, evs, cuts, 3) == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "x"]),
        ),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_cep_strict_batch_matches_reference_model(spark, events):
    """Strict contiguity in the BATCH chain (_strict_join: first
    any-type event vs first matching event) must equal the same
    per-anchor simulation — ties at the earliest timestamp resolve as
    'some earliest event matches' in both."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import CepPattern, compile_batch

    evs = [(u, i, t, e) for i, (u, t, e) in enumerate(events)]
    pat = CepPattern(steps=("a", "b", "c"), within_minutes=1, strict_steps=(1,))
    pdf = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in evs],
            "event_id": [i for _, i, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in evs],
            "event_type": [e for _, _, _, e in evs],
            "value": [0.0] * len(evs),
        }
    )
    got = sorted(
        (
            r["user_id"],
            r[pat.anchor_col],
            *(int(r[pat.ts_col(i)].timestamp()) for i in range(3)),
        )
        for r in compile_batch(pat, spark.createDataFrame(pdf)).collect()
    )
    assert got == _strict_sim(evs, ("a", "b", "c"), frozenset({1}), 60)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),
            st.integers(0, 10_000),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=25,
    )
)
@SETTINGS
def test_cep_times_batch_compiler_matches_reference_model(spark, events):
    """times(2) ([F] Pattern#times): the expanded adjacent same-type
    steps through the batch compiler must equal the generic reference
    chain on random micro-streams — one event may satisfy several
    consecutive same-type stages only via strictly later timestamps."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import CepPattern, compile_batch

    events = [(u, i, ts, e) for i, (u, _, ts, e) in enumerate(events)]
    pat = CepPattern.of(["a", ("b", 2), "c"], within_minutes=1)
    assert pat.steps == ("a", "b", "b", "c")
    pdf = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in events],
            "event_id": [i for _, i, _, _ in events],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in events],
            "event_type": [e for _, _, _, e in events],
            "value": [0.0] * len(events),
        }
    )
    got = sorted(
        (
            r["user_id"],
            r[pat.anchor_col],
            *(int(r[pat.ts_col(i)].timestamp()) for i in range(4)),
        )
        for r in compile_batch(pat, spark.createDataFrame(pdf)).collect()
    )
    want = _cep_reference(events, ("a", "b", "b", "c"), 60)
    assert got == want


def _cep_reference_total(events, steps, window_s, total_s):
    """Reference chain with BOTH the per-stage window and the
    pattern-global total window ([F] Pattern#within) applied."""
    out = []
    per_user: dict = {}
    for uid, eid, ts, etype in events:
        per_user.setdefault(uid, []).append((eid, ts, etype))
    for uid, evs in per_user.items():
        for eid, ts0, etype in evs:
            if etype != steps[0]:
                continue
            chain = [ts0]
            ok = True
            for step in steps[1:]:
                cands = [
                    t2
                    for _, t2, e2 in evs
                    if e2 == step
                    and t2 > chain[-1]
                    and t2 <= chain[-1] + window_s
                    and t2 <= ts0 + total_s
                ]
                if not cands:
                    ok = False
                    break
                chain.append(min(cands))
            if ok:
                out.append((uid, eid, *chain))
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),
            st.integers(0, 10_000),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=25,
    )
)
@SETTINGS
def test_cep_total_window_batch_matches_reference_model(spark, events):
    """Pattern-global within ([F] Pattern#within): per-stage 60 s plus
    a 60 s TOTAL bound (a real restriction for the 3-step chain, whose
    per-stage-only spans reach 120 s) through the batch compiler must
    equal the doubly-bounded reference chain."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import CepPattern, compile_batch

    events = [(u, i, ts, e) for i, (u, _, ts, e) in enumerate(events)]
    pat = CepPattern(steps=("a", "b", "c"), within_minutes=1, total_minutes=1)
    pdf = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in events],
            "event_id": [i for _, i, _, _ in events],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in events],
            "event_type": [e for _, _, _, e in events],
            "value": [0.0] * len(events),
        }
    )
    got = sorted(
        (
            r["user_id"],
            r[pat.anchor_col],
            *(int(r[pat.ts_col(i)].timestamp()) for i in range(3)),
        )
        for r in compile_batch(pat, spark.createDataFrame(pdf)).collect()
    )
    assert got == _cep_reference_total(events, ("a", "b", "c"), 60, 60)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_total_window_nfa_matches_simulation_any_chunking(events, cuts):
    """Pattern-global within in the NFA: the anchor-based expiry must
    match the doubly-bounded reference chain under every micro-batch
    split (the per-anchor chain model is valid — partials don't
    interact without skip_past_last)."""
    from hello_flink_spark.streaming.cep import _make_processor

    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _cep_reference_total(
        [(u, i, t, e) for u, i, t, e in evs], ("a", "b", "c"), 60, 60
    )
    proc = _make_processor(("a", "b", "c"), 60 * 1_000_000, total_us=60 * 1_000_000)
    assert _drive_nfa_chunked(proc, evs, cuts, 3) == want


def _timesormore_sim(evs, steps, rep, window_s, min_reps, max_reps=None):
    """Per-anchor simulation of timesOrMore(n) / times(m, n) ([F]):
    like the greedy oneOrMore run, but a next-step event only completes
    the Kleene stage once >= min_reps repetitions are accepted (an
    earlier one is relaxed-contiguity ignored and the run keeps
    waiting/extending), and a run already holding max_reps ignores
    further repetitions (the stage window stays anchored at the last
    ACCEPTED one)."""
    k = len(steps)
    out = []
    for pos, (uid, aid, ts0, etype0) in enumerate(evs):
        if etype0 != steps[0]:
            continue
        tss, cnt = [ts0], 0
        for uid2, eid, ts, etype in evs[pos + 1:]:
            if uid2 != uid:
                continue
            if ts - tss[-1] > window_s:
                break
            stage = len(tss)
            if stage == rep + 1 and etype == steps[rep] and ts > tss[-1]:
                if max_reps is not None and cnt >= max_reps:
                    continue  # capped: repetition ignored
                tss[-1] = ts
                cnt += 1
                continue
            if stage == rep + 1 and etype == steps[stage] and cnt < min_reps:
                continue  # premature completion attempt: ignored
            if stage < k and etype == steps[stage] and ts > tss[-1]:
                tss.append(ts)
                if stage == rep:
                    cnt = 1
                if len(tss) == k:
                    out.append((uid, aid, *tss, cnt))
                    break
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_timesormore_nfa_matches_simulation_any_chunking(events, cuts):
    """timesOrMore(2) in the NFA under every micro-batch split: the
    min_reps gate must block completion until two repetitions are
    accepted, and a premature next-step event must be a relaxed no-op
    (not a kill, not a completion)."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, rep, window_s = ("a", "b", "c"), 1, 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _timesormore_sim(
        [(u, i, t, e) for u, i, t, e in evs], steps, rep, window_s, 2
    )
    proc = _make_processor(steps, window_s * 1_000_000, rep=rep, min_reps=2)
    assert _drive_nfa_chunked(proc, evs, cuts, 3, extra_cols=("n_rep",)) == want


def test_cep_oneplus_is_greedy():
    """The single emitted oneOrMore match is the GREEDY head match
    ([F] oneOrMore().greedy()): every repetition before the first
    next-step event is consumed into the run — n_rep counts them all,
    and the repeated step's ts column holds the LAST repetition."""
    from hello_flink_spark.streaming.cep import _make_processor

    # a @0, b @10, b @20, b @30, c @40 -> one match, n_rep=3, b_ts=30
    evs = [(1, 0, 0, "a"), (1, 1, 10, "b"), (1, 2, 20, "b"), (1, 3, 30, "b"), (1, 4, 40, "c")]
    proc = _make_processor(("a", "b", "c"), 60 * 1_000_000, rep=1)
    got = _drive_nfa_chunked(proc, evs, [], 3, extra_cols=("n_rep",))
    assert got == [(1, 0, 0, 30, 40, 3)]


def _skip_sim(evs, steps, window_s):
    """Sequential model of AfterMatchSkipStrategy.skipPastLastEvent:
    single pass per user in (ts, event_id) order; on completion emit
    only the earliest-anchored match, clear every open partial, and
    consume the completing event (it cannot anchor). Partials interact
    here, so the model is inherently sequential — written directly
    against the strategy definition, sharing no code with the NFA's
    grouped state machine."""
    k = len(steps)
    per_user: dict = {}
    for uid, eid, ts, etype in evs:
        per_user.setdefault(uid, []).append((eid, ts, etype))
    out = []
    for uid in sorted(per_user):
        partials: list = []  # (aid, [ts...])
        for eid, ts, etype in per_user[uid]:
            partials = [p for p in partials if ts - p[1][-1] <= window_s]
            completed = []
            for i in range(k - 1, 0, -1):
                if etype != steps[i]:
                    continue
                hits = [p for p in partials if len(p[1]) == i and ts > p[1][-1]]
                if not hits:
                    continue
                partials = [p for p in partials if not (len(p[1]) == i and ts > p[1][-1])]
                for aid, tss in hits:
                    if i == k - 1:
                        completed.append((aid, tss + [ts]))
                    else:
                        partials.append((aid, tss + [ts]))
            if completed:
                aid, tss = min(completed, key=lambda c: (c[1][0], c[0]))
                out.append((uid, aid, *tss))
                partials = []
                continue
            if etype == steps[0]:
                partials.append((eid, [ts]))
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_skip_past_last_nfa_matches_simulation_any_chunking(events, cuts):
    """skipPastLastEvent under every micro-batch split: non-overlapping
    matches, earliest anchor wins on simultaneous completion, the
    completing event never anchors — and the result is identical no
    matter how the stream is chunked."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c"), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _skip_sim([(u, i, t, e) for u, i, t, e in evs], steps, window_s)
    proc = _make_processor(steps, window_s * 1_000_000, skip_past_last=True)
    assert _drive_nfa_chunked(proc, evs, cuts, 3) == want


def test_cep_round7_validation():
    """The new tiers' validation: strict anchors, strict×optional and
    strict×Kleene exclusions, min_reps gating, times(n) expansion."""
    from hello_flink_spark.streaming.cep import CepPattern

    with pytest.raises(ValueError):
        CepPattern(steps=("a", "b"), within_minutes=1, strict_steps=(0,))
    with pytest.raises(ValueError):
        CepPattern(
            steps=("a", "b", "c", "d"),
            within_minutes=1,
            optional_steps=(1,),
            strict_steps=(1,),
        )
    with pytest.raises(ValueError):
        CepPattern(
            steps=("a", "b", "c", "d"),
            within_minutes=1,
            optional_steps=(1,),
            strict_steps=(2,),
        )
    with pytest.raises(ValueError):
        CepPattern(
            steps=("a", "b", "c"), within_minutes=1, one_or_more=1, strict_steps=(2,)
        )
    with pytest.raises(ValueError):
        CepPattern(steps=("a", "b", "c"), within_minutes=1, min_reps=2)
    with pytest.raises(ValueError):
        CepPattern(steps=("a", "b"), within_minutes=1, total_minutes=0)
    with pytest.raises(ValueError):
        CepPattern.of(["a", ("b", 0)], within_minutes=1)
    # step-indexed kwargs against an EXPANDING spec are rejected — the
    # indexes would silently shift post-expansion (ADVICE r07)
    with pytest.raises(ValueError, match="post-expansion"):
        CepPattern.of(["a", ("b", 2), "c"], within_minutes=1, strict_steps=(2,))
    with pytest.raises(ValueError, match="post-expansion"):
        CepPattern.of(
            ["a", ("b", 2)], within_minutes=1, step_min_value=(None, 1.0, None)
        )
    # without expansion the kwargs pass through untouched
    p = CepPattern.of(["a", ("b", 1), "c"], within_minutes=1, strict_steps=(2,))
    assert p.strict_steps == (2,)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "x"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_strict_and_total_compose_in_nfa(events, cuts):
    """Composition: strict contiguity × pattern-global within. The
    total bound must prune partials BEFORE the strict verdict (an
    event beyond the total window is a timeout, not a contiguity
    violation) — the per-anchor simulation applies both bounds to the
    candidate set, and the NFA must match it under every chunking."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, strict, window_s, total_s = ("a", "b", "c"), frozenset({1}), 60, 90
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _strict_sim(evs, steps, strict, window_s, total_s=total_s)
    proc = _make_processor(
        steps, window_s * 1_000_000, strict=strict, total_us=total_s * 1_000_000
    )
    assert _drive_nfa_chunked(proc, evs, cuts, 3) == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "x"]),
        ),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_cep_strict_and_total_compose_in_batch(spark, events):
    """Same composition through the BATCH chain + the generated oracle
    shape: _strict_join's candidate band must carry the total-window
    predicate too."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import CepPattern, compile_batch

    evs = [(u, i, t, e) for i, (u, t, e) in enumerate(events)]
    pat = CepPattern(
        steps=("a", "b", "c"),
        within_minutes=1,
        total_minutes=1,
        strict_steps=(1,),
    )
    pdf = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in evs],
            "event_id": [i for _, i, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in evs],
            "event_type": [e for _, _, _, e in evs],
            "value": [0.0] * len(evs),
        }
    )
    got = sorted(
        (
            r["user_id"],
            r[pat.anchor_col],
            *(int(r[pat.ts_col(i)].timestamp()) for i in range(3)),
        )
        for r in compile_batch(pat, spark.createDataFrame(pdf)).collect()
    )
    assert got == _strict_sim(evs, ("a", "b", "c"), frozenset({1}), 60, total_s=60)


def _strict_guard_sim(evs, steps, strict, window_s, min_vals):
    """_strict_sim extended with per-step value guards: a guard-failing
    event of the strict step's type still occupies the earliest-later
    slot (it is 'any event' for contiguity) but cannot promote — so it
    kills the partial, exactly like a wrong-type event."""
    out = []
    k = len(steps)
    for uid, aid, ts0, et0, v0 in evs:
        if et0 != steps[0] or (min_vals[0] is not None and v0 < min_vals[0]):
            continue
        tss = [ts0]
        ok = True
        for i in range(1, k):
            cands = [
                (t2, e2, v2)
                for uid2, _, t2, e2, v2 in evs
                if uid2 == uid and t2 > tss[-1] and t2 <= tss[-1] + window_s
            ]
            passing = [
                (t2, e2)
                for t2, e2, v2 in cands
                if e2 == steps[i] and (min_vals[i] is None or v2 >= min_vals[i])
            ]
            if i in strict:
                if not cands:
                    ok = False
                    break
                t_min = min(t2 for t2, _, _ in cands)
                if any(t2 == t_min for t2, _ in passing):
                    tss.append(t_min)
                else:
                    ok = False
                    break
            else:
                if not passing:
                    ok = False
                    break
                tss.append(min(t2 for t2, _ in passing))
        if ok:
            out.append((uid, aid, *tss))
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "x"]),
            st.sampled_from([0.0, 50.0, 100.0]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_strict_guard_tier_composes(spark, events, cuts):
    """Composition: strict contiguity × value guard. A guard-failing
    event of the strict type at the earliest later timestamp is still
    'any event' for contiguity — it must KILL the partial, not promote
    it and not be skipped. Verified on BOTH compilation targets (NFA
    under every chunking; batch chain) against one independent model."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import CepPattern, _make_processor, compile_batch

    steps, strict, window_s, floor = ("a", "b", "c"), frozenset({1}), 60, 100.0
    mins = (None, floor, None)
    evs = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _strict_guard_sim(evs, steps, strict, window_s, mins)

    # NFA through arbitrary chunk splits
    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _, _ in evs],
            "event_id": [i for _, i, _, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _, _ in evs],
            "event_type": [e for _, _, _, e, _ in evs],
            "value": [v for _, _, _, _, v in evs],
        }
    )
    bounds = sorted({c for c in cuts if c < len(evs)} | {0, len(evs)})
    chunks = [rows.iloc[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    proc = _make_processor(steps, window_s * 1_000_000, mins=mins, strict=strict)
    got = []
    for uid in sorted(rows["user_id"].unique()):
        for out in _fold_nfa(proc, uid, [c[c["user_id"] == uid] for c in chunks]):
            got.extend(
                (
                    r.user_id,
                    r.anchor_id,
                    *(int(getattr(r, f"ts{j + 1}").timestamp()) for j in range(3)),
                )
                for r in out.itertuples()
            )
    assert sorted(got) == want

    # batch chain
    pat = CepPattern(
        steps=steps,
        within_minutes=1,
        strict_steps=(1,),
        step_min_value=mins,
    )
    got_b = sorted(
        (
            r["user_id"],
            r[pat.anchor_col],
            *(int(r[pat.ts_col(i)].timestamp()) for i in range(3)),
        )
        for r in compile_batch(pat, spark.createDataFrame(rows)).collect()
    )
    assert got_b == want


def test_cep_timesormore_not_bypassed_by_optional_skip():
    """Regression (round-7 self-review): a timesOrMore quota must gate
    EVERY promotion out of the Kleene stage — including the
    optional-SKIP path, where the promoting event targets the step
    after the optional slot. Pattern a, b{2,}, [c], d on a@0, b@10,
    d@20 must NOT complete (one repetition); with a second b it
    must, with the optional slot NULL."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import _make_processor

    def run(evs):
        proc = _make_processor(
            ("a", "b", "c", "d"),
            60 * 1_000_000,
            rep=1,
            min_reps=2,
            optionals=frozenset({2}),
        )
        rows = pd.DataFrame(
            {
                "user_id": [1] * len(evs),
                "event_id": list(range(len(evs))),
                "ts": [pd.Timestamp(t, unit="s") for t, _ in evs],
                "event_type": [e for _, e in evs],
                "value": [0.0] * len(evs),
            }
        )
        out = []
        for batch in _fold_nfa(proc, 1, [rows]):
            out.extend(batch.itertuples())
        return out

    assert run([(0, "a"), (10, "b"), (20, "d")]) == []
    got = run([(0, "a"), (10, "b"), (15, "b"), (20, "d")])
    assert len(got) == 1 and got[0].n_rep == 2
    assert pd.isna(got[0].ts3)  # optional slot skipped as NULL


def test_autocorrelation_zero_variance_yields_null(spark):
    """Regression (round-7 self-review): a constant-value series (a
    value=0.0 bot) must produce lag1_autocorr NULL — matching DuckDB's
    corr — instead of Spark ANSI corr's DIVIDE_BY_ZERO failing the
    whole job on one degenerate user."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, float(v), 0.0) for v in range(5)] + [(2, 1.0, 2.0), (2, 2.0, 1.0)],
        "user_id long, value double, prev_value double",
    )
    got = {
        r.user_id: r.c
        for r in df.groupBy("user_id")
        .agg(
            F.try_divide(
                F.covar_samp("value", "prev_value"),
                F.stddev_samp("value") * F.stddev_samp("prev_value"),
            ).alias("c")
        )
        .collect()
    }
    assert got[1] is None  # prev_value constant -> NULL, not an exception
    assert abs(got[2] - (-1.0)) < 1e-12


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_times_range_nfa_matches_simulation_any_chunking(events, cuts):
    """times(1, 2) ([F] Pattern#times(from, to)): the max_reps cap must
    stop the run from accepting a third repetition (the stage window
    stays anchored at the second) while completion stays legal from the
    first — under every micro-batch split. Emitted n_rep always within
    [1, 2]."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, rep, window_s = ("a", "b", "c"), 1, 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _timesormore_sim(
        [(u, i, t, e) for u, i, t, e in evs], steps, rep, window_s, 1, max_reps=2
    )
    proc = _make_processor(steps, window_s * 1_000_000, rep=rep, max_reps=2)
    got = _drive_nfa_chunked(proc, evs, cuts, 3, extra_cols=("n_rep",))
    assert got == want
    assert all(1 <= r[-1] <= 2 for r in got)


def test_cep_times_range_validation():
    from hello_flink_spark.streaming.cep import CepPattern

    with pytest.raises(ValueError):
        CepPattern(steps=("a", "b", "c"), within_minutes=1, max_reps=2)
    with pytest.raises(ValueError):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            one_or_more=1,
            min_reps=3,
            max_reps=2,
        )
    p = CepPattern(
        steps=("a", "b", "c"), within_minutes=1, one_or_more=1, min_reps=2, max_reps=4
    )
    assert (p.min_reps, p.max_reps) == (2, 4)


def _not_between_sim(evs, steps, nb, window_s):
    """Per-anchor model of mid-pattern notFollowedBy: walking the
    user's events in (ts, event_id) order, a forbidden-type event
    strictly later than the last accepted stage kills the anchor
    before any promotion the walk could make later. Shares no code
    with streaming/cep.py."""
    k = len(steps)
    out = []
    for pos, (uid, aid, ts0, et0) in enumerate(evs):
        if et0 != steps[0]:
            continue
        tss = [ts0]
        alive = True
        for uid2, eid, ts, et in evs[pos + 1:]:
            if uid2 != uid:
                continue
            if ts - tss[-1] > window_s:
                alive = False
                break
            stage = len(tss)
            if nb[stage] == et and ts > tss[-1]:
                alive = False
                break
            if et == steps[stage] and ts > tss[-1]:
                tss.append(ts)
                if len(tss) == k:
                    break
        if alive and len(tss) == k:
            out.append((uid, aid, *tss))
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "x"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_not_between_nfa_matches_simulation_any_chunking(events, cuts):
    """Mid-pattern notFollowedBy in the NFA: an 'x' strictly between a
    partial's last accepted stage and its promotion must kill it — and
    the verdict is identical under every micro-batch split (the kill
    is a per-event decision carried in ordinary partial state)."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, nb, window_s = ("a", "b"), (None, "x"), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _not_between_sim(evs, steps, nb, window_s)
    proc = _make_processor(steps, window_s * 1_000_000, not_between=nb)
    assert _drive_nfa_chunked(proc, evs, cuts, 2) == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "x"]),
        ),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_cep_not_between_batch_matches_reference_model(spark, events):
    """Mid-pattern notFollowedBy in the BATCH chain (two-MIN band join)
    must equal the per-anchor model on TIE-FREE micro-streams (an exact
    promoter/forbidden tie kills in SQL but resolves by event_id in the
    NFA — the documented optional()-class divergence, excluded here by
    deduplicating (user, ts))."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import CepPattern, compile_batch

    seen = set()
    evs = []
    for i, (u, t, e) in enumerate(events):
        if (u, t) in seen:
            continue
        seen.add((u, t))
        evs.append((u, i, t, e))
    evs.sort(key=lambda x: (x[2], x[1]))
    pat = CepPattern(
        steps=("a", "b"), within_minutes=1, not_between=(None, "x")
    )
    pdf = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in evs],
            "event_id": [i for _, i, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in evs],
            "event_type": [e for _, _, _, e in evs],
            "value": [0.0] * len(evs),
        }
    )
    got = sorted(
        (
            r["user_id"],
            r[pat.anchor_col],
            *(int(r[pat.ts_col(i)].timestamp()) for i in range(2)),
        )
        for r in compile_batch(pat, spark.createDataFrame(pdf)).collect()
    )
    assert got == _not_between_sim(evs, ("a", "b"), (None, "x"), 60)


def test_cep_not_between_validation():
    from hello_flink_spark.streaming.cep import CepPattern

    with pytest.raises(ValueError, match="anchor"):
        CepPattern(steps=("a", "b"), within_minutes=1, not_between=("x", None))
    with pytest.raises(ValueError, match="own type"):
        CepPattern(steps=("a", "b"), within_minutes=1, not_between=(None, "b"))
    with pytest.raises(ValueError, match="one entry per step"):
        CepPattern(steps=("a", "b"), within_minutes=1, not_between=(None,))
    with pytest.raises(ValueError, match="strict"):
        CepPattern(
            steps=("a", "b"),
            within_minutes=1,
            strict_steps=(1,),
            not_between=(None, "x"),
        )
    with pytest.raises(ValueError, match="Kleene"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            one_or_more=1,
            not_between=(None, "x", None),
        )


def _not_next_sim(evs, steps, nn, window_s):
    """Per-anchor model of notNext: after accepting a guarded stage,
    the first strictly-later event of ANY type resolves the guard —
    forbidden kills, anything else clears; no later event within the
    window = vacuous pass (the anchor just times out unless the
    pattern completes first). Shares no code with streaming/cep.py."""
    k = len(steps)
    out = []
    for pos, (uid, aid, ts0, et0) in enumerate(evs):
        if et0 != steps[0]:
            continue
        tss = [ts0]
        armed = nn[0] is not None
        alive = True
        for uid2, eid, ts, et in evs[pos + 1:]:
            if uid2 != uid:
                continue
            if ts - tss[-1] > window_s:
                alive = False
                break
            stage = len(tss)
            if armed and ts > tss[-1]:
                if et == nn[stage - 1]:
                    alive = False
                    break
                armed = False
            if et == steps[stage] and ts > tss[-1]:
                tss.append(ts)
                armed = nn[stage] is not None
                if len(tss) == k:
                    break
        if alive and len(tss) == k:
            out.append((uid, aid, *tss))
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "x", "y"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_not_next_nfa_matches_simulation_any_chunking(events, cuts):
    """notNext in the NFA: the armed-guard sentinel must survive
    micro-batch boundaries — a guard armed in one batch and resolved by
    the first event of the next must behave exactly like the
    single-pass model, for every chunking. 'y' events prove that ANY
    type clears the guard, not just pattern types."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, nn, window_s = ("a", "b"), ("x", None), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _not_next_sim(evs, steps, nn, window_s)
    proc = _make_processor(steps, window_s * 1_000_000, not_next=nn)
    assert _drive_nfa_chunked(proc, evs, cuts, 2) == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "x", "y"]),
        ),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_cep_not_next_batch_matches_reference_model(spark, events):
    """notNext in the BATCH chain (_not_next_guard: first-any vs
    first-forbidden MINs) must equal the per-anchor model on TIE-FREE
    micro-streams (tie groups are judged as a set in SQL but by
    event_id in the NFA — the documented strict/optional tie class)."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import CepPattern, compile_batch

    seen = set()
    evs = []
    for i, (u, t, e) in enumerate(events):
        if (u, t) in seen:
            continue
        seen.add((u, t))
        evs.append((u, i, t, e))
    evs.sort(key=lambda x: (x[2], x[1]))
    pat = CepPattern(steps=("a", "b"), within_minutes=1, not_next=("x", None))
    pdf = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in evs],
            "event_id": [i for _, i, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in evs],
            "event_type": [e for _, _, _, e in evs],
            "value": [0.0] * len(evs),
        }
    )
    got = sorted(
        (
            r["user_id"],
            r[pat.anchor_col],
            *(int(r[pat.ts_col(i)].timestamp()) for i in range(2)),
        )
        for r in compile_batch(pat, spark.createDataFrame(pdf)).collect()
    )
    assert got == _not_next_sim(evs, ("a", "b"), ("x", None), 60)


def test_cep_not_next_validation():
    from hello_flink_spark.streaming.cep import CepPattern

    with pytest.raises(ValueError, match="final stage"):
        CepPattern(steps=("a", "b"), within_minutes=1, not_next=(None, "x"))
    with pytest.raises(ValueError, match="one entry per step"):
        CepPattern(steps=("a", "b"), within_minutes=1, not_next=("x",))
    with pytest.raises(ValueError, match="strict"):
        CepPattern(
            steps=("a", "b"),
            within_minutes=1,
            strict_steps=(1,),
            not_next=("x", None),
        )
    with pytest.raises(ValueError, match="Kleene|optional"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            one_or_more=1,
            not_next=(None, "x", None),
        )


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "x", "y"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_negative_guards_compose_in_nfa(events, cuts):
    """Composition: notNext × mid-pattern notFollowedBy on ONE pattern
    (a notNext(x) followedBy b notFollowedBy(y) followedBy c). The
    armed-guard sentinel and the per-event span kill must not
    interfere — verified against a single per-anchor model applying
    both rules, under every micro-batch split."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, nn, nb, window_s = ("a", "b", "c"), ("x", None, None), (None, None, "y"), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )

    def _sim():
        out = []
        for pos, (uid, aid, ts0, et0) in enumerate(evs):
            if et0 != "a":
                continue
            tss = [ts0]
            armed = True  # notNext on the anchor
            alive = True
            for uid2, _eid, ts, et in evs[pos + 1:]:
                if uid2 != uid:
                    continue
                if ts - tss[-1] > window_s:
                    alive = False
                    break
                stage = len(tss)
                if armed and ts > tss[-1]:
                    if et == nn[stage - 1]:
                        alive = False
                        break
                    armed = False
                if nb[stage] == et and ts > tss[-1]:
                    alive = False
                    break
                if et == steps[stage] and ts > tss[-1]:
                    tss.append(ts)
                    armed = nn[stage] is not None
                    if len(tss) == 3:
                        break
            if alive and len(tss) == 3:
                out.append((uid, aid, *tss))
        return sorted(out)

    proc = _make_processor(
        steps, window_s * 1_000_000, not_next=nn, not_between=nb
    )
    assert _drive_nfa_chunked(proc, evs, cuts, 3) == _sim()


# ---------------------------------------------------------------------------
# [F] IterativeCondition (rel_guards): per-step predicate over previously
# accepted events — value >= factor * value(accepted ref-step event)
# ---------------------------------------------------------------------------


def _rel_guard_sim(evs, steps, rel, window_s, emit_vals=()):
    """Independent per-anchor model of the IterativeCondition tier:
    at stage i the candidate set is filtered by the guard AGAINST THIS
    ANCHOR'S accepted values before the first-strictly-later pick —
    written as direct nested loops, sharing no code with cep.py."""
    out = []
    for uid, aid, ts0, et0, v0 in evs:
        if et0 != steps[0]:
            continue
        tss, vals = [ts0], [float(v0)]
        ok = True
        for i in range(1, len(steps)):
            g = rel[i]
            passing = [
                (t2, float(v2))
                for uid2, _, t2, e2, v2 in evs
                if uid2 == uid
                and e2 == steps[i]
                and t2 > tss[-1]
                and t2 <= tss[-1] + window_s
                and (g is None or v2 >= g[1] * vals[g[0]])
            ]
            if not passing:
                ok = False
                break
            t_min = min(t2 for t2, _ in passing)
            tss.append(t_min)
            vals.append(min(v2 for t2, v2 in passing if t2 == t_min))
        if ok:
            out.append((uid, aid, *tss, *(vals[j] for j in emit_vals)))
    return sorted(out)


def _run_rel_guard_all_targets(spark, events, cuts, rel, emit_vals):
    """Drive one rel-guard pattern through ALL FOUR targets — the
    reference model, the NFA under arbitrary chunking, the batch join
    chain, and the generated DuckDB oracle — and assert agreement."""
    import duckdb
    import pandas as pd

    from hello_flink_spark.streaming.cep import (
        CepPattern,
        _make_processor,
        compile_batch,
        oracle_sql,
    )

    steps, window_s = ("a", "b", "c"), 60
    evs = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _rel_guard_sim(evs, steps, rel, window_s, emit_vals=emit_vals)

    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _, _ in evs],
            "event_id": [i for _, i, _, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _, _ in evs],
            "event_type": [e for _, _, _, e, _ in evs],
            "value": [float(v) for _, _, _, _, v in evs],
        }
    )

    # NFA under arbitrary micro-batch splits
    proc = _make_processor(
        steps, window_s * 1_000_000, rel_guards=rel, emit_vals=emit_vals
    )
    bounds = sorted({c for c in cuts if c < len(evs)} | {0, len(evs)})
    chunks = [rows.iloc[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    got_n = []
    for uid in sorted(rows["user_id"].unique()):
        for out in _fold_nfa(proc, uid, [c[c["user_id"] == uid] for c in chunks]):
            got_n.extend(
                (
                    r.user_id,
                    r.anchor_id,
                    *(int(getattr(r, f"ts{j + 1}").timestamp()) for j in range(3)),
                    *(getattr(r, f"v{j + 1}") for j in emit_vals),
                )
                for r in out.itertuples()
            )
    assert sorted(got_n) == want

    # batch join chain
    pat = CepPattern(steps=steps, within_minutes=1, rel_guards=rel)
    got_b = sorted(
        (
            r["user_id"],
            r[pat.anchor_col],
            *(int(r[pat.ts_col(i)].timestamp()) for i in range(3)),
            *(r[pat.val_col(j)] for j in emit_vals),
        )
        for r in compile_batch(pat, spark.createDataFrame(rows)).collect()
    )
    assert got_b == want

    # generated DuckDB oracle over the same micro-stream
    con = duckdb.connect()
    con.register("events", rows)
    got_o = sorted(
        (
            r[0],
            r[1],
            *(int(pd.Timestamp(r[2 + i]).timestamp()) for i in range(3)),
            *(r[5 + n] for n in range(len(emit_vals))),
        )
        for r in con.execute(
            f"SELECT user_id, {pat.anchor_col}, "
            + ", ".join(pat.ts_col(i) for i in range(3))
            + ", "
            + ", ".join(pat.val_col(j) for j in emit_vals)
            + f" FROM ({oracle_sql(pat)})"
        ).fetchall()
    )
    assert got_o == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "x"]),
            st.sampled_from([0.0, 10.0, 30.0, 100.0]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_rel_guard_anchor_all_targets_agree(spark, events, cuts):
    """[F] IterativeCondition, anchor-referenced (the canonical 'c
    value >= 2x the anchor a's value'): reference model, NFA under
    every chunking, batch chain, and generated oracle must agree —
    including per-partial promotion (one event promotes only the
    anchors whose value it clears) and duplicate-timestamp groups."""
    rel = (None, None, (0, 2.0))
    _run_rel_guard_all_targets(spark, events, cuts, rel, emit_vals=(0,))


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "x"]),
            st.sampled_from([0.0, 10.0, 30.0, 100.0]),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda e: (e[0], e[1]),
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_rel_guard_mid_ref_all_targets_agree(spark, events, cuts):
    """Mid-pattern reference (c value >= 2x the ACCEPTED b's value):
    exercises the MIN_BY/ARG_MIN value-carry of a non-anchor stage.
    Events are unique per (user, ts) — the carried value of a
    timestamp-tied argmin is the one documented tie class."""
    rel = (None, None, (1, 2.0))
    _run_rel_guard_all_targets(spark, events, cuts, rel, emit_vals=(1,))


def test_cep_rel_guard_validation():
    import pytest

    from hello_flink_spark.streaming.cep import CepPattern

    with pytest.raises(ValueError, match="one entry per step"):
        CepPattern(steps=("a", "b"), within_minutes=1, rel_guards=(None,))
    with pytest.raises(ValueError, match="anchor"):
        CepPattern(
            steps=("a", "b"), within_minutes=1, rel_guards=((0, 2.0), None)
        )
    with pytest.raises(ValueError, match="EARLIER"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            rel_guards=(None, None, (2, 2.0)),
        )
    with pytest.raises(ValueError, match="strict"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            strict_steps=(2,),
            rel_guards=(None, None, (0, 2.0)),
        )
    with pytest.raises(ValueError, match="optional"):
        CepPattern(
            steps=("a", "b", "c", "d"),
            within_minutes=1,
            optional_steps=(1,),
            rel_guards=(None, None, (1, 2.0), None),
        )
    with pytest.raises(ValueError, match="Kleene"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            one_or_more=1,
            rel_guards=(None, None, (1, 2.0)),
        )
    with pytest.raises(ValueError, match="not_between"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            not_between=(None, None, "x"),
            rel_guards=(None, None, (0, 2.0)),
        )
    # a valid instance: guard + ref both plain relaxed steps
    p = CepPattern(
        steps=("a", "b", "c"), within_minutes=1, rel_guards=(None, None, (1, 1.5))
    )
    assert p.referenced_steps == (1,)


# ---------------------------------------------------------------------------
# [F] Pattern#followedByAny (any_match_steps): every eligible event
# spawns a branch; the waiting partial stays armed until window expiry
# ---------------------------------------------------------------------------


def _any_match_sim(evs, steps, anyset, window_s, rel=None, nn=None):
    """Independent per-anchor model of any-match promotion: at an
    any-match stage EVERY guard-passing candidate forks the chain; at
    a first-match stage only the earliest survives. Direct nested
    loops, sharing no code with cep.py.

    With ``nn`` (r11: any_match × not_next) a branch survives only if,
    for every guarded stage i, the FIRST same-user event strictly
    after the branch's stage-i timestamp (within the stage window,
    judged in (ts, event_id) order — ties resolve by event id exactly
    like the NFA's per-event loop) is not the forbidden type. The
    post-filter is exact because a guard armed at stage i resolves at
    the first strictly-later event — before any later acceptance or
    completion that same branch could make."""
    rel = rel or (None,) * len(steps)
    nn = nn or (None,) * len(steps)

    def guard_ok(uid, tss):
        for i, forb in enumerate(nn):
            if forb is None or i >= len(tss):
                continue
            nxt = next(
                (
                    e2
                    for uid2, _, t2, e2, _ in evs
                    if uid2 == uid
                    and t2 > tss[i]
                    and t2 <= tss[i] + window_s
                ),
                None,
            )
            if nxt == forb:
                return False
        return True

    out = []
    for uid, aid, ts0, et0, v0 in evs:
        if et0 != steps[0]:
            continue
        branches = [([ts0], [float(v0)])]
        for i in range(1, len(steps)):
            g = rel[i]
            new = []
            for tss, vals in branches:
                passing = sorted(
                    (t2, float(v2))
                    for uid2, _, t2, e2, v2 in evs
                    if uid2 == uid
                    and e2 == steps[i]
                    and t2 > tss[-1]
                    and t2 <= tss[-1] + window_s
                    and (g is None or v2 >= g[1] * vals[g[0]])
                )
                if not passing:
                    continue
                picks = passing if i in anyset else passing[:1]
                new.extend((tss + [t2], vals + [v2]) for t2, v2 in picks)
            branches = new
        out.extend(
            (uid, aid, *tss) for tss, _ in branches if guard_ok(uid, tss)
        )
    return sorted(out)


def _run_any_match_all_targets(spark, events, cuts, anyset, rel=None, nn=None):
    """Drive one any-match pattern through the reference model, the
    NFA under arbitrary chunking, the batch chain, and the generated
    DuckDB oracle, asserting four-way agreement. With ``nn`` the
    event stream is first made TIE-FREE (one event per (user, ts)) —
    the batch/oracle notNext guards judge same-timestamp groups as a
    set while the NFA judges them by event id, the documented
    strict/optional tie class (test_cep_not_next_batch_... precedent);
    the tied NFA-vs-model property runs separately."""
    import duckdb
    import pandas as pd

    from hello_flink_spark.streaming.cep import (
        CepPattern,
        _make_processor,
        compile_batch,
        oracle_sql,
    )

    steps, window_s = ("a", "b", "c"), 60
    if nn is not None:
        seen, dedup = set(), []
        for u, t, e, v in events:
            if (u, t) in seen:
                continue
            seen.add((u, t))
            dedup.append((u, t, e, v))
        events = dedup
    evs = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _any_match_sim(evs, steps, anyset, window_s, rel=rel, nn=nn)

    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _, _ in evs],
            "event_id": [i for _, i, _, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _, _ in evs],
            "event_type": [e for _, _, _, e, _ in evs],
            "value": [float(v) for _, _, _, _, v in evs],
        }
    )

    proc = _make_processor(
        steps,
        window_s * 1_000_000,
        rel_guards=rel,
        any_match=frozenset(anyset),
        not_next=nn,
    )
    bounds = sorted({c for c in cuts if c < len(evs)} | {0, len(evs)})
    chunks = [rows.iloc[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    got_n = []
    for uid in sorted(rows["user_id"].unique()):
        for out in _fold_nfa(proc, uid, [c[c["user_id"] == uid] for c in chunks]):
            got_n.extend(
                (
                    r.user_id,
                    r.anchor_id,
                    *(int(getattr(r, f"ts{j + 1}").timestamp()) for j in range(3)),
                )
                for r in out.itertuples()
            )
    assert sorted(got_n) == want

    pat = CepPattern(
        steps=steps,
        within_minutes=1,
        any_match_steps=tuple(anyset),
        rel_guards=rel,
        not_next=nn,
    )
    got_b = sorted(
        (
            r["user_id"],
            r[pat.anchor_col],
            *(int(r[pat.ts_col(i)].timestamp()) for i in range(3)),
        )
        for r in compile_batch(pat, spark.createDataFrame(rows)).collect()
    )
    assert got_b == want

    con = duckdb.connect()
    con.register("events", rows)
    got_o = sorted(
        (r[0], r[1], *(int(pd.Timestamp(r[2 + i]).timestamp()) for i in range(3)))
        for r in con.execute(
            f"SELECT user_id, {pat.anchor_col}, "
            + ", ".join(pat.ts_col(i) for i in range(3))
            + f" FROM ({oracle_sql(pat)})"
        ).fetchall()
    )
    assert got_o == want


ANY_EVENTS = st.lists(
    st.tuples(
        st.integers(1, 2),
        st.integers(0, 120),
        st.sampled_from(["a", "b", "c", "x"]),
        st.sampled_from([0.0, 10.0, 30.0, 100.0]),
    ),
    min_size=1,
    max_size=25,
)


@given(events=ANY_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@example(
    events=[(1, 0, "a", 0.0), (1, 1, "b", 0.0), (1, 1, "b", 0.0), (1, 2, "c", 0.0)],
    cuts=[],
)
@SETTINGS
def test_cep_any_match_mid_all_targets_agree(spark, events, cuts):
    """followedByAny on a MIDDLE stage: every b within the window of a
    forks a branch; each branch then takes its own first c. All four
    targets (model, chunked NFA, batch chain, oracle) must agree —
    including branch fan-out across duplicate timestamps."""
    _run_any_match_all_targets(spark, events, cuts, anyset={1})


@given(events=ANY_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_any_match_final_all_targets_agree(spark, events, cuts):
    """followedByAny on the FINAL stage: every c after the first b is
    its own completed match, and the stage-2 partial must survive its
    own completions until window expiry."""
    _run_any_match_all_targets(spark, events, cuts, anyset={2})


@given(events=ANY_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_any_match_composes_with_rel_guard(spark, events, cuts):
    """Composition: followedByAny × IterativeCondition — the guard
    filters the BRANCH SET (only c events clearing 2x the anchor's
    value fork matches), on all four targets."""
    _run_any_match_all_targets(
        spark, events, cuts, anyset={2}, rel=(None, None, (0, 2.0))
    )


@given(events=ANY_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_any_match_not_next_before_all_targets_agree(spark, events, cuts):
    """r11 composition (the file's last 'untested' refusal deleted):
    a notNext(x) m … guard armed BEFORE the any-match step — the
    first strictly-later event resolves the WAITER before any branch
    can spawn (forbidden first → no branches ever). Four-way agreement
    on tie-free streams."""
    _run_any_match_all_targets(
        spark, events, cuts, anyset={1}, nn=("x", None, None)
    )


@given(events=ANY_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_any_match_not_next_on_branch_all_targets_agree(spark, events, cuts):
    """r11 composition: the notNext guard ON the any-match step arms
    PER BRANCH at each branch's own acceptance timestamp — a forbidden
    event kills exactly the branches whose first-later event it is,
    while later-accepted branches arm after it and survive. Four-way
    agreement on tie-free streams."""
    _run_any_match_all_targets(
        spark, events, cuts, anyset={1}, nn=(None, "x", None)
    )


@given(events=ANY_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_any_match_not_next_nfa_matches_simulation_tied(events, cuts):
    """The TIED complement of the four-way suites: on streams with
    same-(user, ts) groups the NFA resolves armed guards in event-id
    order — the model mirrors that exactly, under every chunking.
    (Batch/oracle judge tie groups as a set — the documented
    strict/optional tie class — so they sit out this property.)"""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c"), 60
    evs5 = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    nn = (None, "x", None)
    want = _any_match_sim(evs5, steps, {1}, window_s, nn=nn)
    proc = _make_processor(
        steps, window_s * 1_000_000, any_match=frozenset({1}), not_next=nn
    )
    assert _drive_nfa_chunked_v(proc, evs5, cuts, 3) == want


def test_cep_any_match_not_next_goldens():
    """Pinned behaviors of the r11 composition: (1) forbidden-first
    kills the waiter before ANY branch spawns; (2) a cleared guard
    fans out normally; (3) a per-branch guard kills exactly the
    branches whose first-later event is the forbidden one — a branch
    accepted AFTER the forbidden event survives; (4) the completing
    event itself resolves an armed branch guard (not forbidden →
    match emits)."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    steps = ("a", "b", "c")

    # (1)+(2): notNext(x) on the anchor, any-match at b. user 1: x@5 is
    # the first event after the anchor -> killed, the b@10/b@15 never
    # spawn. user 2: m(b)@10 clears the guard by being first; both bs
    # fork and each takes its own first c.
    proc = _make_processor(
        steps, w, any_match=frozenset({1}), not_next=("x", None, None)
    )
    got = _drive_nfa_chunked(proc, [
        (1, 0, 0, "a"), (1, 1, 5, "x"), (1, 2, 10, "b"), (1, 3, 20, "c"),
        (2, 4, 0, "a"), (2, 5, 10, "b"), (2, 6, 15, "b"), (2, 7, 20, "c"),
    ], [], 3)
    assert got == [(2, 4, 0, 10, 20), (2, 4, 0, 15, 20)]

    # (3)+(4): notNext(x) ON the any-match step. b1@10 -> x@12 is its
    # first later event -> branch killed; b2@15 arms after the x and
    # its first later event is c@20 (also its completion) -> survives.
    proc2 = _make_processor(
        steps, w, any_match=frozenset({1}), not_next=(None, "x", None)
    )
    got2 = _drive_nfa_chunked(proc2, [
        (1, 0, 0, "a"), (1, 1, 10, "b"), (1, 2, 12, "x"), (1, 3, 15, "b"),
        (1, 4, 20, "c"),
    ], [], 3)
    assert got2 == [(1, 0, 0, 15, 20)]


def test_cep_any_match_validation():
    import pytest

    from hello_flink_spark.streaming.cep import CepPattern

    with pytest.raises(ValueError, match="anchor"):
        CepPattern(steps=("a", "b"), within_minutes=1, any_match_steps=(0,))
    with pytest.raises(ValueError, match="strict"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            strict_steps=(1,),
            any_match_steps=(1,),
        )
    with pytest.raises(ValueError, match="optional"):
        CepPattern(
            steps=("a", "b", "c", "d"),
            within_minutes=1,
            optional_steps=(1,),
            any_match_steps=(2,),
        )
    with pytest.raises(ValueError, match="Kleene"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            one_or_more=1,
            any_match_steps=(2,),
        )
    with pytest.raises(ValueError, match="not_between"):
        CepPattern(
            steps=("a", "b"),
            within_minutes=1,
            not_between=(None, "x"),
            any_match_steps=(1,),
        )
    # any_match × not_next COMPOSES (r11 — the last 'untested
    # composition' refusal deleted property-suite-first): guards
    # before and ON the any-match step both construct
    ok_nn = CepPattern(
        steps=("a", "b", "c"),
        within_minutes=1,
        not_next=("x", "y", None),
        any_match_steps=(1,),
    )
    assert ok_nn.not_next == ("x", "y", None)
    with pytest.raises(ValueError, match="skip_past_last"):
        CepPattern(
            steps=("a", "b"),
            within_minutes=1,
            skip_past_last=True,
            any_match_steps=(1,),
        )
    # no timeout side-output for any-match patterns
    import pandas as pd

    p = CepPattern(steps=("a", "b"), within_minutes=1, any_match_steps=(1,))
    with pytest.raises(ValueError, match="timeout"):
        from hello_flink_spark.streaming.cep import oracle_sql_timeouts

        oracle_sql_timeouts(p)


def test_cep_rel_guard_rejects_optional_successor():
    """Round-8 self-review regression: a rel_guard ON or REFERENCING
    the mandatory successor of an optional pair must be rejected — the
    pair compilation owns both slots, so the batch chain would
    silently skip the guard (or crash on the missing value column)
    while the NFA applied it."""
    import pytest

    from hello_flink_spark.streaming.cep import CepPattern

    with pytest.raises(ValueError, match="follow an optional"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            optional_steps=(1,),
            rel_guards=(None, None, (0, 2.0)),
        )
    with pytest.raises(ValueError, match="follow an optional"):
        CepPattern(
            steps=("a", "b", "c", "d"),
            within_minutes=1,
            optional_steps=(1,),
            rel_guards=(None, None, None, (2, 2.0)),
        )


@given(
    events=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 10_000)),  # (ts, id)
        min_size=1,
        max_size=40,
    ),
    cuts=st.lists(st.integers(0, 39), max_size=5),
    delay=st.integers(1, 10),
)
@SETTINGS
def test_reorder_split_folds_in_event_time_order_any_batching(events, cuts, delay):
    """The reorder buffer's core contract, pinned at the unit level
    (round-8 self-review found the <= boundary bug the goldens missed):
    under ANY partition of arrivals into micro-batches and the
    standard watermark advance (max seen ts - delay), the folded
    sequence (1) is exactly the globally-sorted (ts, id) order of the
    non-late arrivals, and (2) never folds a row while an
    equal-timestamp sibling could still legally arrive — i.e. every
    fold happens strictly below the watermark that released it."""
    from hello_flink_spark.streaming.stateful import _reorder_split

    events = [(t, i) for i, (t, _) in enumerate(events)]  # unique ids
    bounds = sorted({c for c in cuts if c < len(events)} | {0, len(events)})
    batches = [events[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]

    folded, buf, kept = [], [], []
    wm = None
    seen_max = None
    for batch in batches:
        cutoff = wm
        arrivals = [e for e in batch if cutoff is None or e[0] >= cutoff]
        kept.extend(arrivals)
        ready, buf = _reorder_split(buf, arrivals, cutoff)
        for e in ready:
            assert cutoff is not None and e[0] < cutoff, (
                f"folded {e} at or above the watermark {cutoff}"
            )
        folded.extend(ready)
        for t, _ in batch:
            seen_max = t if seen_max is None else max(seen_max, t)
        wm = seen_max - delay
    # end-of-stream flush (MAX_WATERMARK)
    ready, buf = _reorder_split(buf, [], max(t for t, _ in events) + delay + 1)
    folded.extend(ready)
    assert not buf
    assert folded == sorted(kept), "fold order diverged from event-time order"


# ---------------------------------------------------------------------------
# The per-user GroupState processors the six on-arrival operators ran on
# before the key-group driver, kept verbatim as its reference
# ---------------------------------------------------------------------------


def _sorted_concat(pdfs: Iterator[pd.DataFrame], by: list[str]) -> pd.DataFrame:
    pdf = pd.concat(list(pdfs), ignore_index=True)
    return pdf.sort_values(by, ignore_index=True)


def _running_agg(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    cnt, total = state.get if state.exists else (0, 0.0)
    pdf = pd.concat(list(pdfs), ignore_index=True)
    cnt += len(pdf)
    total += float(pdf["value"].sum())
    state.update((cnt, total))
    yield pd.DataFrame({"user_id": [key[0]], "event_cnt": [cnt], "total_value": [round(total, 2)]})


def _sessionize(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom sessionization: emit a (user, session_start, cnt, total)
    row when a session closes — either because a later event arrived
    past the gap (in-order closure) or because the event-time timer
    fired (watermark passed start+gap with no successor: the
    stateful_timer path)."""
    out: list[dict] = []

    def close(sess):
        out.append(
            {
                "user_id": key[0],
                # integer µs → exactly representable in Arrow timestamp[us]
                "session_start": pd.Timestamp(int(sess[0]), unit="us"),
                "cnt": int(sess[2]),
                "total_value": round(float(sess[3]), 2),
            }
        )

    if state.hasTimedOut:
        if state.exists:
            close(state.get)
            state.remove()
        yield pd.DataFrame(out)
        return

    pdf = _sorted_concat(pdfs, ["ts", "event_id"])
    sess = list(state.get) if state.exists else None  # [start_us, last_us, cnt, total]
    for ts, value in zip(pdf["ts"], pdf["value"]):
        ts_us = ts.value // 1000  # pd.Timestamp ns → µs, exact
        if sess is None:
            sess = [ts_us, ts_us, 0, 0.0]
        elif ts_us - sess[1] >= SESSION_GAP_US:
            close(sess)
            sess = [ts_us, ts_us, 0, 0.0]
        sess[1] = ts_us
        sess[2] += 1
        sess[3] += float(value)
    state.update(tuple(sess))
    # [F] timerService().registerEventTimeTimer(last_ts + gap)
    state.setTimeoutTimestamp((sess[1] + SESSION_GAP_US) // 1000)
    yield pd.DataFrame(out)


def _inactivity(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        last_us, cnt = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_seen": [pd.Timestamp(int(last_us), unit="us")],
                "events_before_idle": [int(cnt)],
            }
        )
        return
    pdf = _sorted_concat(pdfs, ["ts", "event_id"])
    last_us, cnt = state.get if state.exists else (None, 0)
    out: list[dict] = []
    for ts in pdf["ts"]:
        ts_us = ts.value // 1000
        # a gap that this event closes is an idle spell too, whichever
        # call the event arrives in
        if last_us is not None and ts_us - last_us > INACTIVITY_US:
            out.append(
                {
                    "user_id": key[0],
                    "last_seen": pd.Timestamp(int(last_us), unit="us"),
                    "events_before_idle": int(cnt),
                }
            )
            cnt = 0
        last_us, cnt = ts_us, cnt + 1
    state.update((last_us, cnt))
    state.setTimeoutTimestamp((last_us + INACTIVITY_US) // 1000)
    yield pd.DataFrame(out)


def _count_window(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    chunk_idx, buf_cnt, buf_sum = state.get if state.exists else (0, 0, 0.0)
    pdf = _sorted_concat(pdfs, ["ts", "event_id"])
    out: list[dict] = []
    for value in pdf["value"]:
        buf_cnt += 1
        buf_sum += float(value)
        if buf_cnt == COUNT_WINDOW_SIZE:
            out.append(
                {
                    "user_id": key[0],
                    "chunk": chunk_idx,
                    "cnt": COUNT_WINDOW_SIZE,
                    "total_value": round(buf_sum, 2),
                }
            )
            chunk_idx += 1
            buf_cnt, buf_sum = 0, 0.0
    state.update((chunk_idx, buf_cnt, buf_sum))
    yield pd.DataFrame(out)


def _global_count_trigger(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    cnt, total = state.get if state.exists else (0, 0.0)
    pdf = _sorted_concat(pdfs, ["ts", "event_id"])
    out: list[dict] = []
    for value in pdf["value"]:
        cnt += 1
        total += float(value)
        if cnt % GLOBAL_TRIGGER_EVERY == 0:
            out.append(
                {"user_id": key[0], "fire_at": cnt, "total_value": round(total, 2)}
            )
    state.update((cnt, total))
    yield pd.DataFrame(out)


def _count_window_evictor(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    chunk_idx, buf_cnt, ring = state.get if state.exists else (0, 0, [])
    ring = list(ring)
    pdf = _sorted_concat(pdfs, ["ts", "event_id"])
    out: list[dict] = []
    for value in pdf["value"]:
        buf_cnt += 1
        ring.append(float(value))
        # the evictor's buffer bound IS the state bound: only the last
        # `keep` elements can ever be aggregated, so older ones drop
        # the moment they are displaced — state stays O(keep), not O(n)
        if len(ring) > COUNT_EVICT_KEEP:
            ring.pop(0)
        if buf_cnt == COUNT_WINDOW_SIZE:
            out.append(
                {
                    "user_id": key[0],
                    "chunk": chunk_idx,
                    "cnt_kept": len(ring),
                    "total_value": round(sum(ring), 2),
                }
            )
            chunk_idx += 1
            buf_cnt, ring = 0, []
    state.update((chunk_idx, buf_cnt, ring))
    yield pd.DataFrame(out)


class _TimerGroupState:
    """The slice of Spark's GroupState ``_key_group_fold`` touches,
    with Spark's timer rules: a call starts with no timer, and a timer
    below the watermark (or not positive) is refused. ``wm_ms`` None
    is a stream with no watermark: reading it raises, as it does in
    Spark, and so does setting a timer (no timeouts)."""

    def __init__(self, value, wm_ms: int | None, timed_out: bool = False):
        self.value, self.wm_ms, self.hasTimedOut = value, wm_ms, timed_out
        self.timer = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def getCurrentWatermarkMs(self):
        assert self.wm_ms is not None, "read the watermark of a stream without one"
        return self.wm_ms

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def setTimeoutTimestamp(self, ms):
        assert self.wm_ms is not None, "a timer on a stream without a watermark"
        assert 0 < ms and ms >= self.wm_ms, f"timer {ms} below watermark {self.wm_ms}"
        self.timer = ms


def _rows(frame):
    """Output rows as Arrow hands them to Spark: NaN is null."""
    import math

    return [
        tuple(None if isinstance(x, float) and math.isnan(x) else x for x in r)
        for r in zip(*(frame[c].tolist() for c in frame.columns))
    ]


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 30),  # event time, ms past the base
            st.sampled_from([0, 1, 999_999]),  # ns inside that ms
            st.integers(0, 7),  # user
            st.integers(0, 10_000),  # value in tenths: sums round
            st.sampled_from(["view", "click", "purchase"]),  # event type
        ),
        min_size=1,
        max_size=40,
    ),
    cuts=st.lists(st.integers(0, 39), max_size=8),
    # from each of these rows on, event time is one more session gap
    # (30 min) later, so sessions close mid-stream (and two jumps make
    # an hour of inactivity)
    jumps=st.lists(st.integers(1, 39), max_size=2),
    delay=st.integers(1, 4),
    groups=st.integers(1, 4),
)
# a row exactly at the watermark is held, and must be released by a
# timeout in the batch whose watermark is 1 ms past it
@example(
    events=[(10, 0, 0, 500, "view"), (9, 0, 0, 100, "click"), (11, 0, 1, 300, "view")],
    cuts=[1],
    jumps=[],
    delay=1,
    groups=1,
)
# a session whose gap horizon sits exactly at the watermark stays open,
# and must close by a timeout in the batch whose watermark is 1 ms past
# it; with one group, a data call sees the horizon at the watermark first
@example(
    events=[(5, 0, 0, 1, "view"), (6, 0, 1, 2, "view"), (7, 0, 1, 3, "click")],
    cuts=[1, 2],
    jumps=[1],
    delay=1,
    groups=2,
)
@example(
    events=[(5, 0, 0, 1, "view"), (6, 0, 1, 2, "view"), (7, 0, 1, 3, "click")],
    cuts=[1, 2],
    jumps=[1],
    delay=1,
    groups=1,
)
# user 0's idle deadline sits exactly at the watermark in a data call
# for its group, then passes it in a timeout-only call
@example(
    events=[(0, 0, 0, 1, "view"), (1, 0, 1, 2, "view"), (2, 0, 1, 3, "click")],
    cuts=[1, 2],
    jumps=[1, 1],
    delay=1,
    groups=1,
)
# 0.1 + (0.2 + 0.3) != (0.1 + 0.2) + 0.3: the running sum adds each
# micro-batch's sum, and a fold that added row by row would show
@example(
    events=[(0, 0, 0, 1, "view"), (1, 0, 0, 2, "view"), (2, 0, 0, 3, "view")],
    cuts=[1],
    jumps=[],
    delay=1,
    groups=1,
)
@settings(max_examples=100, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_key_group_fold_matches_per_user_reorder_buffer(events, cuts, jumps, delay, groups):
    """``_key_group_fold``, under Spark's call rules (one data call per
    group with arrivals, then one timeout call per other group whose
    timer is below the watermark), emits per micro-batch exactly the
    rows of a per-user reference and ends in the same per-user state,
    for all thirteen folds, with several users per group, rows below
    the watermark and timeout-only calls. For the seven watermark-rule
    folds the reference runs every user through ``_reorder_split`` and
    the fold each batch, folding a user whose deadline is due even with
    no rows ready and dropping a user whose fold returns None. For the
    six on-arrival folds it is the per-user GroupState processor each
    ran on before, under Spark's per-user call rules: a data call for a
    user with rows, else a timeout call once its timer is below the
    watermark; the four count operators run without a watermark. No
    group state row is ever empty, an on-arrival group never holds
    rows, and a watermark past every deadline leaves no session or
    idle user and no group row."""
    from hello_flink_spark.streaming import stateful
    from hello_flink_spark.streaming.stateful import _reorder_split

    base_ms = 1_700_000_000_000
    gap_ms = stateful.FUNNEL_GAP_US // 1000
    rows = [
        (
            (base_ms + t + gap_ms * sum(j <= i for j in jumps)) * 1_000_000 + ns,
            u, i, v / 10, et,
        )
        for i, (t, ns, u, v, et) in enumerate(events)
    ]
    bounds = sorted({c for c in cuts if c < len(rows)} | {0, len(rows)})
    batches = [rows[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    # the watermark each batch runs under; as in Spark, a watermark
    # advance runs a no-data batch (timeouts only), and a last one
    # flushes every held row and passes every deadline (the
    # bounded-input MAX_WATERMARK)
    runs, wm, seen = [], 0, 0
    for batch in batches:
        runs.append((batch, wm))
        seen = max([seen] + [r[0] // 1_000_000 for r in batch])
        if seen - delay > wm:
            wm = seen - delay
            runs.append(([], wm))
    runs.append(([], seen + delay + INACTIVITY_US // 1000 + 100))

    def frame(rs):
        f = pd.DataFrame(rs, columns=["ts", "user_id", "event_id", "value", "event_type"])
        f["ts"] = pd.to_datetime(f["ts"])
        return f

    # (fold, per-user processor or None, stream has a watermark)
    ops = [
        (op, None, True)
        for op in (
            stateful._MARKOV, stateful._BURST, stateful._EWMA, stateful._AUTOCORR,
            stateful._DELTA_TRIGGER, stateful._CUSUM, stateful._SESSION_FUNNEL,
        )
    ] + [
        (stateful._RUNNING_AGG, _running_agg, False),
        (stateful._COUNT_WINDOW, _count_window, False),
        (stateful._GLOBAL_COUNT_TRIGGER, _global_count_trigger, False),
        (stateful._COUNT_WINDOW_EVICTOR, _count_window_evictor, False),
        (stateful._SESSIONIZE, _sessionize, True),
        (stateful._INACTIVITY, _inactivity, True),
    ]
    for op, processor, timed in ops:
        n = 1 + len(op.scalars)  # the group row's uid and scalar columns
        group_state, timers, ref_state, ref_held, ref_timers = {}, {}, {}, {}, {}
        for batch, wm in runs:
            wm = wm if timed else None
            cutoff = wm * 1_000_000 if wm else None
            live = [r for r in batch if cutoff is None or r[0] >= cutoff]
            got, want = [], []

            def call(g, frames, timed_out):
                st_ = _TimerGroupState(group_state.get(g), wm, timed_out)
                tz = "UTC" if timed else None
                for out in stateful._key_group_fold(tz, op, (g,), iter(frames), st_):
                    got.extend(_rows(out))
                if st_.exists:
                    assert st_.value[0] or st_.value[n], "an empty group state row"
                    assert not (op.on_arrival and st_.value[n]), "an on-arrival row held"
                    group_state[g], timers[g] = st_.value, st_.timer
                else:
                    group_state.pop(g, None)

            by_group: dict = {}
            for r in batch:
                by_group.setdefault(r[1] % groups, []).append(r)
            for g, rs in by_group.items():
                call(g, [frame(rs)], False)
            for g in [g for g in group_state if g not in by_group]:
                if timers[g] is not None and timers[g] < wm:
                    call(g, [], True)

            if processor is not None:

                def ref_call(u, frames, timed_out):
                    st_ = _TimerGroupState(ref_state.get(u), wm, timed_out)
                    for out in processor((u,), iter(frames), st_):
                        want.extend(_rows(out))
                    if st_.exists:
                        ref_state[u], ref_timers[u] = st_.value, st_.timer
                    else:
                        ref_state.pop(u, None)

                # Spark filters late rows out before the call; it hands
                # a user's rows in no set order, so the reference gets
                # them in the (ts, event_id) order the driver folds in
                by_user: dict = {}
                for r in sorted(live):
                    by_user.setdefault(r[1], []).append(r)
                for u, rs in by_user.items():
                    ref_call(u, [frame(rs)], False)
                for u in [u for u in ref_state if u not in by_user]:
                    if ref_timers[u] is not None and ref_timers[u] < wm:
                        ref_call(u, [], True)
            else:
                arriving: dict = {}
                for t, u, e, v, et in live:
                    payload = {"value": v, "event_type": et}
                    arriving.setdefault(u, []).append(
                        (t, e, *(payload[c] for c in op.arrival[2:]))
                    )
                due = set()
                if op.deadline and cutoff is not None:
                    due = {u for u, s in ref_state.items() if op.deadline(s) < cutoff}
                for u in sorted(ref_held.keys() | arriving.keys() | due):
                    ready, ref_held[u] = _reorder_split(
                        ref_held.get(u, []), arriving.get(u, []), cutoff
                    )
                    if ready or u in due:
                        s, out = op.fold(u, ref_state.get(u), ready, cutoff)
                        if s is None:
                            ref_state.pop(u, None)
                        else:
                            ref_state[u] = s
                        want += out
                ref_held = {u: b for u, b in ref_held.items() if b}
            assert sorted(got, key=lambda r: r[:2]) == sorted(want, key=lambda r: r[:2])

        assert not ref_held
        final_state = {}
        for row in group_state.values():
            assert not row[n], "rows held past the flushing watermark"
            final_state.update(zip(row[0], zip(*row[1:n])))
        assert final_state == ref_state
        if op.deadline:
            assert not group_state, "a closed session kept its group row"


@given(
    steps=st.lists(
        st.tuples(
            # ms since the previous event: the same instant, half an
            # hour, exactly the inactivity span (no idle spell), 1 ms
            # more (a spell) or two spans
            st.sampled_from([0, 1, 1_800_000, 3_600_000, 3_600_001, 7_200_000]),
            st.integers(0, 3),  # user
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=8),
    delay=st.integers(1, 4),
    groups=st.integers(1, 3),
)
@settings(max_examples=100, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_inactivity_alerts_every_idle_spell_under_any_cut(steps, cuts, delay, groups):
    """On an in-order stream, ``inactivity_alerts``' fold alerts every
    idle spell, whatever micro-batches the stream is cut into: one
    ``(user, last_seen, events_before_idle)`` row per gap of more than
    INACTIVITY_US between a user's consecutive events, and one for its
    last event once a watermark passes every deadline. Spark's call
    rules as in the test above: a data call per group with arrivals,
    then a timeout call per other group whose timer is below the
    watermark."""
    from hello_flink_spark.streaming import stateful

    rows, t_ms = [], 1_700_000_000_000
    for i, (dt_ms, u) in enumerate(steps):
        t_ms += dt_ms
        rows.append((t_ms * 1_000_000, u, i))
    want, open_spell = [], {}
    for ts, u, _ in rows:
        last, cnt = open_spell.get(u, (None, 0))
        if last is not None and ts - last > INACTIVITY_US * 1000:
            want.append((u, pd.Timestamp(last // 1000, unit="us"), cnt))
            cnt = 0
        open_spell[u] = (ts, cnt + 1)
    want += [(u, pd.Timestamp(ts // 1000, unit="us"), c) for u, (ts, c) in open_spell.items()]

    group_state, timers, got = {}, {}, []

    def call(g, rs, wm):
        st_ = _TimerGroupState(group_state.get(g), wm, not rs)
        frames = [
            pd.DataFrame(
                {
                    "ts": pd.to_datetime([r[0] for r in rs]),
                    "user_id": [r[1] for r in rs],
                    "event_id": [r[2] for r in rs],
                }
            )
        ] if rs else []
        for out in stateful._key_group_fold(
            "UTC", stateful._INACTIVITY, (g,), iter(frames), st_
        ):
            got.extend(_rows(out))
        if st_.exists:
            group_state[g], timers[g] = st_.value, st_.timer
        else:
            group_state.pop(g, None)

    def run(batch, wm):
        by_group: dict = {}
        for r in batch:
            by_group.setdefault(r[1] % groups, []).append(r)
        for g, rs in by_group.items():
            call(g, rs, wm)
        for g in [g for g in group_state if g not in by_group]:
            if timers[g] is not None and timers[g] < wm:
                call(g, [], wm)

    bounds = sorted({c for c in cuts if c < len(rows)} | {0, len(rows)})
    wm = seen = 0
    for a, b in zip(bounds, bounds[1:]):
        run(rows[a:b], wm)
        seen = rows[b - 1][0] // 1_000_000
        if seen - delay > wm:
            wm = seen - delay
            run([], wm)
    run([], seen + delay + INACTIVITY_US // 1000 + 100)
    assert sorted(got) == sorted(want)
    assert not group_state


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 3),  # user
            st.integers(0, 8),  # event time in half-minutes: windows end on them
            st.sampled_from([0, 1, 2]),  # ms past that half-minute
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=8),
    delay=st.sampled_from([0, 1, 30_000]),
    groups=st.integers(1, 4),
)
# user 0's deadline (0 + 60 s) sits exactly at the watermark, and stays
# open; a 1 ms advance, with no row for its group, times it out in a
# timeout-only call
@example(
    events=[(0, 0, 0, "a"), (1, 2, 1, "c"), (1, 2, 2, "c")],
    cuts=[2],
    delay=1,
    groups=2,
)
# at a watermark exactly at user 0's deadline, a data call for another
# user of its group leaves it open, so a row at the watermark still
# extends it
@example(
    events=[(0, 0, 0, "a"), (1, 2, 1, "c"), (1, 2, 1, "c"), (0, 2, 0, "b")],
    cuts=[2, 3],
    delay=1,
    groups=1,
)
@settings(max_examples=100, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_cep_timeout_fold_matches_reference_under_timer_rules(events, cuts, delay, groups):
    """The CEP NFA with the timeout side-output, run by
    ``_key_group_fold`` under Spark's call rules (a data call per group
    with arrivals, then, after each watermark advance, a timeout call
    per other group whose timer is below the watermark, and a last
    watermark past every deadline): its matched and ``matched=false``
    rows equal the independent reference model over the rows that were
    not late, for any cut into micro-batches and 1-4 key groups. Each
    user's events are in time order; users interleave, so the
    watermark can pass another user's later rows, which drop."""
    from hello_flink_spark.streaming import stateful
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_ms, base_ms = ("a", "b", "a"), 60_000, 1_700_000_000_000
    op = _make_processor(steps, window_ms * 1000, emit_timeouts=True)
    times: dict = {}
    for u, half, off, _ in events:
        times.setdefault(u, []).append(half * 30_000 + off)
    times = {u: iter(sorted(ts)) for u, ts in times.items()}
    rows = [(next(times[u]), u, i, et) for i, (u, _, _, et) in enumerate(events)]

    group_state, timers, got, live = {}, {}, [], []

    def call(g, rs, wm):
        st_ = _TimerGroupState(group_state.get(g), wm, not rs)
        frames = [
            pd.DataFrame(
                {
                    "ts": pd.to_datetime([(base_ms + r[0]) * 1_000_000 for r in rs]),
                    "user_id": [r[1] for r in rs],
                    "event_id": [r[2] for r in rs],
                    "event_type": [r[3] for r in rs],
                    "value": [0.0] * len(rs),
                }
            )
        ] if rs else []
        for out in stateful._key_group_fold("UTC", op, (g,), iter(frames), st_):
            got.extend(
                tuple(
                    None if pd.isna(x) else x.value // 1_000_000 - base_ms
                    if isinstance(x, pd.Timestamp) else x
                    for x in r
                )
                for r in zip(*(out[c].tolist() for c in out.columns))
            )
        if st_.exists:
            group_state[g], timers[g] = st_.value, st_.timer
        else:
            group_state.pop(g, None)

    def run(batch, wm):
        live.extend(r for r in batch if not wm or base_ms + r[0] >= wm)
        by_group: dict = {}
        for r in batch:
            by_group.setdefault(r[1] % groups, []).append(r)
        for g, rs in by_group.items():
            call(g, rs, wm)
        for g in [g for g in group_state if g not in by_group]:
            if timers[g] is not None and timers[g] < wm:
                call(g, [], wm)

    bounds = sorted({c for c in cuts if c < len(rows)} | {0, len(rows)})
    wm = seen = 0
    for a, b in zip(bounds, bounds[1:]):
        run(rows[a:b], wm)
        seen = max([seen] + [base_ms + r[0] for r in rows[a:b]])
        if seen - delay > wm:
            wm = seen - delay
            run([], wm)
    run([], seen + window_ms + 1)
    want = _cep_reference_timeouts(
        [(u, i, t, et) for t, u, i, et in live], steps, window_ms
    )
    assert sorted(got, key=lambda t: tuple((x is None, x) for x in t)) == want
    assert not group_state, "a partial outlived a watermark past every deadline"


# ---------------------------------------------------------------------------
# [F] Pattern#where(cond).or(cond) (or_types): a step admits a SET of
# event types; every compiled target must treat membership identically
# ---------------------------------------------------------------------------


def _or_types_sim(evs, stepsets, window_s, mins=None):
    """Independent per-anchor model of the type-set pattern: each
    anchor-set event opens its own chain; every later stage takes the
    FIRST event whose type is in the stage's set (and passes its value
    guard) strictly after the previous stage within the window. Plain
    nested loops, sharing no code with cep.py."""
    mins = mins or (None,) * len(stepsets)
    out = []
    for uid, aid, ts0, et0, v0 in evs:
        if et0 not in stepsets[0] or (mins[0] is not None and v0 < mins[0]):
            continue
        tss = [ts0]
        for i in range(1, len(stepsets)):
            cand = sorted(
                t2
                for uid2, _, t2, e2, v2 in evs
                if uid2 == uid
                and e2 in stepsets[i]
                and t2 > tss[-1]
                and t2 <= tss[-1] + window_s
                and (mins[i] is None or v2 >= mins[i])
            )
            if not cand:
                tss = None
                break
            tss.append(cand[0])
        if tss is not None:
            out.append((uid, aid, *tss))
    return sorted(out)


def _run_or_types_all_targets(spark, events, cuts, or_types, mins=None):
    """Drive one type-set pattern through the reference model, the NFA
    under arbitrary chunking, the batch chain, and the generated
    DuckDB oracle, asserting four-way agreement."""
    import duckdb
    import pandas as pd

    from hello_flink_spark.streaming.cep import (
        CepPattern,
        _make_processor,
        compile_batch,
        oracle_sql,
    )

    steps, window_s = ("a", "b", "c"), 60
    stepsets = tuple(set((steps[i],) + tuple(or_types[i])) for i in range(3))
    evs = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _or_types_sim(evs, stepsets, window_s, mins=mins)

    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _, _ in evs],
            "event_id": [i for _, i, _, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _, _ in evs],
            "event_type": [e for _, _, _, e, _ in evs],
            "value": [float(v) for _, _, _, _, v in evs],
        }
    )

    proc = _make_processor(
        steps, window_s * 1_000_000, mins, alts=tuple(tuple(x) for x in or_types)
    )
    bounds = sorted({c for c in cuts if c < len(evs)} | {0, len(evs)})
    chunks = [rows.iloc[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    got_n = []
    for uid in sorted(rows["user_id"].unique()):
        for out in _fold_nfa(proc, uid, [c[c["user_id"] == uid] for c in chunks]):
            got_n.extend(
                (
                    r.user_id,
                    r.anchor_id,
                    *(int(getattr(r, f"ts{j + 1}").timestamp()) for j in range(3)),
                )
                for r in out.itertuples()
            )
    assert sorted(got_n) == want

    pat = CepPattern(
        steps=steps,
        within_minutes=1,
        or_types=tuple(tuple(x) for x in or_types),
        step_min_value=mins,
    )
    got_b = sorted(
        (
            r["user_id"],
            r[pat.anchor_col],
            *(int(r[pat.ts_col(i)].timestamp()) for i in range(3)),
        )
        for r in compile_batch(pat, spark.createDataFrame(rows)).collect()
    )
    assert got_b == want

    con = duckdb.connect()
    con.register("events", rows)
    got_o = sorted(
        (r[0], r[1], *(int(pd.Timestamp(r[2 + i]).timestamp()) for i in range(3)))
        for r in con.execute(
            f"SELECT user_id, {pat.anchor_col}, "
            + ", ".join(pat.ts_col(i) for i in range(3))
            + f" FROM ({oracle_sql(pat)})"
        ).fetchall()
    )
    assert got_o == want


OR_EVENTS = st.lists(
    st.tuples(
        st.integers(1, 2),
        st.integers(0, 120),
        st.sampled_from(["a", "A", "b", "B", "c", "x"]),
        st.sampled_from([0.0, 10.0, 30.0, 100.0]),
    ),
    min_size=1,
    max_size=25,
)


@given(events=OR_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_or_types_mid_all_targets_agree(spark, events, cuts):
    """OR-combinator on a MIDDLE stage (b OR B): the first event of
    EITHER type promotes — model, chunked NFA, batch chain, and oracle
    must agree, including cross-type ordering within the window."""
    _run_or_types_all_targets(spark, events, cuts, or_types=((), ("B",), ()))


@given(events=OR_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_or_types_anchor_and_final_agree(spark, events, cuts):
    """OR types on the ANCHOR (a OR A — every admitted event opens its
    own partial) and the FINAL stage simultaneously: the four targets
    must agree on the full match set."""
    _run_or_types_all_targets(
        spark, events, cuts, or_types=(("A",), (), ("x",))
    )


@given(events=OR_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_or_types_compose_with_value_guard(spark, events, cuts):
    """Composition: the stage value guard applies to the WHOLE type
    set (Flink's .where(typeA or typeB).where(valueGuard) chain) — a
    B event below the threshold must not promote even though its type
    is admitted."""
    _run_or_types_all_targets(
        spark,
        events,
        cuts,
        or_types=((), ("B",), ()),
        mins=(None, 30.0, None),
    )


def test_cep_or_types_validation():
    import pytest

    from hello_flink_spark.streaming.cep import CepPattern

    with pytest.raises(ValueError, match="one entry per step"):
        CepPattern(steps=("a", "b"), within_minutes=1, or_types=((),))
    with pytest.raises(ValueError, match="repeat the step's own type"):
        CepPattern(steps=("a", "b"), within_minutes=1, or_types=(("a",), ()))
    with pytest.raises(ValueError, match="distinct"):
        CepPattern(
            steps=("a", "b"), within_minutes=1, or_types=((), ("B", "B"))
        )
    with pytest.raises(ValueError, match="disjoint from its successor"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            optional_steps=(1,),
            or_types=((), ("c",), ()),
        )
    with pytest.raises(ValueError, match="Kleene step's type set"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            one_or_more=1,
            or_types=((), ("a",), ()),
        )
    with pytest.raises(ValueError, match="must not be admitted"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            not_between=(None, None, "x"),
            or_types=((), (), ("x",)),
        )
    # valid: OR types on plain relaxed steps, guards compose
    p = CepPattern(
        steps=("a", "b", "c"),
        within_minutes=1,
        or_types=(("A",), ("B",), ()),
        step_min_value=(None, 30.0, None),
    )
    assert p.step_types(0) == ("a", "A")
    assert p.step_types(1) == ("b", "B")
    assert p.step_types(2) == ("c",)


# ---------------------------------------------------------------------------
# [F] AfterMatchSkipStrategy completion (round 9): skipToNext /
# skipToFirst(name) / skipToLast(name) — sequential selection, NFA-only
# ---------------------------------------------------------------------------


def _skip_to_sim(evs5, steps, window_s, mode, j=None, anyset=frozenset(), nn=None):
    """Sequential model of skipToNext / skipToFirst / skipToLast,
    written directly against the Flink strategy definitions: take the
    NO_SKIP match enumeration (per-anchor chains, with any-match forks
    where requested — reusing the independent fork model), order it by
    (completion_ts, anchor_ts, anchor_id, stage timestamps) — equal
    completion timestamps always come from the same completing event,
    so this is the NFA's emission order — then fold: to_next keeps the
    first match per ANCHOR EVENT; to_first/to_last keep a match iff
    its anchor is >= the running boundary (emitted matches' step-j
    timestamp; ties survive) and advance the boundary. With ``nn``
    (r11: the any_match × not_next × skip triple) the fold input is
    the guard-filtered match set — exact, because guard kills resolve
    at the first strictly-later event independently of boundary kills
    (both only REMOVE partials; a guard-killed branch never completes,
    so it neither emits nor advances the boundary)."""
    matches = _any_match_sim(evs5, steps, anyset, window_s, nn=nn)
    out = []
    for uid in sorted({m[0] for m in matches}):
        ms = sorted(
            (m for m in matches if m[0] == uid),
            key=lambda m: (m[-1], m[2], m[1], m[2:]),
        )
        if mode == "to_next":
            emitted = set()
            for m in ms:
                if m[1] not in emitted:
                    out.append(m)
                    emitted.add(m[1])
        else:
            bound = None
            for m in ms:
                if bound is not None and m[2] < bound:
                    continue
                out.append(m)
                b = m[2 + j]
                bound = b if bound is None else max(bound, b)
    return sorted(out)


SKIP_EVENTS = st.lists(
    st.tuples(
        st.integers(1, 2),
        st.integers(0, 120),
        st.sampled_from(["a", "b", "c", "x"]),
    ),
    min_size=1,
    max_size=25,
)


def _run_skip_to(events, cuts, mode, j=None, anyset=frozenset(), nn=None):
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c"), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    evs5 = [(u, i, t, e, 0.0) for u, i, t, e in evs]
    want = _skip_to_sim(evs5, steps, window_s, mode, j=j, anyset=anyset, nn=nn)
    proc = _make_processor(
        steps,
        window_s * 1_000_000,
        any_match=frozenset(anyset),
        skip_to=(mode, j),
        not_next=nn,
    )
    assert _drive_nfa_chunked(proc, evs, cuts, 3) == want


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_next_any_final_matches_simulation(events, cuts):
    """skipToNext x followedByAny(final): the branch fan-out collapses
    to the first-completing branch per anchor, under every chunking."""
    _run_skip_to(events, cuts, "to_next", anyset={2})


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_next_any_mid_matches_simulation(events, cuts):
    """skipToNext x followedByAny(mid): one match per anchor — the
    branch whose completion comes FIRST wins (which may be a later b
    with an earlier c: not the plain first-match chain)."""
    _run_skip_to(events, cuts, "to_next", anyset={1})


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_next_without_branching_is_no_skip(spark, events, cuts):
    """Without branch enumeration every anchor completes at most once,
    so skipToNext must equal NO_SKIP (the plain first-match chains)."""
    steps, window_s = ("a", "b", "c"), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    evs5 = [(u, i, t, e, 0.0) for u, i, t, e in evs]
    want = _or_types_sim(
        evs5, ({"a"}, {"b"}, {"c"}), window_s
    )
    from hello_flink_spark.streaming.cep import _make_processor

    proc = _make_processor(steps, window_s * 1_000_000, skip_to=("to_next", None))
    assert _drive_nfa_chunked(proc, evs, cuts, 3) == want


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_next_any_not_next_matches_simulation(events, cuts):
    """The r11 TRIPLE — skipToNext × followedByAny × notNext: guard
    kills shrink the completion set BEFORE the skip fold (a
    guard-killed branch neither emits nor advances the boundary);
    the fold itself is unchanged. NFA vs the composed model under
    every chunking (ties fine: both sides are event-id-ordered)."""
    _run_skip_to(
        events, cuts, "to_next", anyset={1}, nn=(None, "x", None)
    )


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_first_mid_matches_simulation(events, cuts):
    """skipToFirst(b): after an emitted match, partials anchored
    strictly before the match's b are discarded (ties survive) —
    under every chunking."""
    _run_skip_to(events, cuts, "to_first", j=1)


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_last_final_matches_simulation(events, cuts):
    """skipToLast(c) on the final step: the boundary is the completing
    event itself — the most aggressive variant short of
    skipPastLastEvent (which additionally consumes the event)."""
    _run_skip_to(events, cuts, "to_last", j=2)


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_first_anchor_matches_simulation(events, cuts):
    """skipToFirst(anchor step): boundary = the emitted match's own
    anchor — kills only partials anchored strictly earlier."""
    _run_skip_to(events, cuts, "to_first", j=0)


def test_cep_skip_to_last_kleene_uses_last_repetition():
    """skipToLast on the Kleene step: the boundary is the run's LAST
    accepted repetition (the slot the state keeps). Two anchors share
    a 2-repetition run completing together: the earlier anchor emits,
    boundary = last b's ts kills the later anchor; with ("to_last", 0)
    the boundary is the anchor itself and both survive."""
    from hello_flink_spark.streaming.cep import _make_processor

    evs = [(1, 0, 0, "a"), (1, 1, 1, "a"), (1, 2, 2, "b"), (1, 3, 3, "b"), (1, 4, 4, "c")]
    for skip, expect in [
        (("to_last", 1), [(1, 0, 0, 3, 4, 2)]),
        (("to_last", 0), [(1, 0, 0, 3, 4, 2), (1, 1, 1, 3, 4, 2)]),
    ]:
        proc = _make_processor(
            ("a", "b", "c"), 60 * 1_000_000, rep=1, skip_to=skip
        )
        got = _drive_nfa_chunked(proc, evs, [], 3, extra_cols=("n_rep",))
        assert got == expect, (skip, got)


def test_cep_after_match_skip_validation():
    import pytest

    from hello_flink_spark.streaming.cep import (
        CepPattern,
        compile_batch,
        oracle_sql,
    )

    with pytest.raises(ValueError, match="mutually"):
        CepPattern(
            steps=("a", "b"),
            within_minutes=1,
            skip_past_last=True,
            after_match_skip=("to_next", None),
        )
    with pytest.raises(ValueError, match="no reference step"):
        CepPattern(
            steps=("a", "b"), within_minutes=1, after_match_skip=("to_next", 1)
        )
    with pytest.raises(ValueError, match="0..k-1"):
        CepPattern(
            steps=("a", "b"), within_minutes=1, after_match_skip=("to_first", 2)
        )
    with pytest.raises(ValueError, match="optional"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            optional_steps=(1,),
            after_match_skip=("to_last", 1),
        )
    with pytest.raises(ValueError, match="FIRST repetition"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            one_or_more=1,
            after_match_skip=("to_first", 1),
        )
    # r10 (VERDICT r09 #3): to_first/to_last × any_match now COMPOSES
    p_any = CepPattern(
        steps=("a", "b", "c"),
        within_minutes=1,
        any_match_steps=(1,),
        after_match_skip=("to_first", 1),
    )
    assert p_any.after_match_skip == ("to_first", 1)
    with pytest.raises(ValueError, match="to_next/to_first/to_last"):
        CepPattern(
            steps=("a", "b"), within_minutes=1, after_match_skip=("bogus", None)
        )
    # streaming-only: batch chain and oracle refuse
    p = CepPattern(
        steps=("a", "b"), within_minutes=1, after_match_skip=("to_next", None)
    )
    with pytest.raises(ValueError, match="join-chain shadow"):
        oracle_sql(p)
    # to_next x any_match is the allowed, meaningful composition
    q = CepPattern(
        steps=("a", "b", "c"),
        within_minutes=1,
        any_match_steps=(1,),
        after_match_skip=("to_next", None),
    )
    assert q.after_match_skip == ("to_next", None)
    # to_last MAY reference the Kleene step (slot = last repetition)
    r = CepPattern(
        steps=("a", "b", "c"),
        within_minutes=1,
        one_or_more=1,
        after_match_skip=("to_last", 1),
    )
    assert r.after_match_skip == ("to_last", 1)


# ---------------------------------------------------------------------------
# [F] oneOrMore().until(condition) — the Kleene stop condition (round 9)
# ---------------------------------------------------------------------------


def _until_sim(evs, steps, rep, window_s, min_reps, until_type):
    """Per-anchor model of [F] ``oneOrMore().until(stop)``: the greedy
    timesOrMore run, except a stop-type event STRICTLY later than the
    run's last accepted event freezes it while it is IN OR ENTERING
    the looping state — at the Kleene stage no further repetitions are
    accepted but completion via the next step stays allowed (Flink:
    until stops acceptance INTO the looping state only; the successor
    state still consumes), and a run still WAITING for its first
    repetition refuses it (acceptance into the loop is exactly what
    until guards), so it can never complete. Still gated on min_reps.
    Written directly against the Flink semantics; shares no code with
    the NFA."""
    k = len(steps)
    out = []
    for pos, (uid, aid, ts0, etype0) in enumerate(evs):
        if etype0 != steps[0]:
            continue
        tss, cnt, frozen = [ts0], 0, False
        for uid2, eid, ts, etype in evs[pos + 1:]:
            if uid2 != uid:
                continue
            if ts - tss[-1] > window_s:
                break
            stage = len(tss)
            if stage in (rep, rep + 1) and etype == until_type and ts > tss[-1]:
                frozen = True
                continue
            if stage == rep + 1 and etype == steps[rep] and ts > tss[-1]:
                if frozen:
                    continue  # stop condition: repetition not accepted
                tss[-1] = ts
                cnt += 1
                continue
            if stage == rep + 1 and etype == steps[stage] and cnt < min_reps:
                continue  # premature completion attempt: relaxed no-op
            if stage < k and etype == steps[stage] and ts > tss[-1]:
                if frozen and stage == rep:
                    continue  # first repetition refused: run is dead
                tss.append(ts)
                if stage == rep:
                    cnt = 1
                if len(tss) == k:
                    out.append((uid, aid, *tss, cnt))
                    break
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "u"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_until_nfa_matches_simulation_any_chunking(events, cuts):
    """until('u') in the NFA under every micro-batch split: a stop
    event must freeze exactly the runs currently AT the Kleene stage
    (strictly-later boundary), frozen runs must still complete via the
    next step, and runs entering the loop after the stop event must be
    unaffected."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, rep, window_s = ("a", "b", "c"), 1, 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _until_sim(
        [(u, i, t, e) for u, i, t, e in evs], steps, rep, window_s, 1, "u"
    )
    proc = _make_processor(
        steps, window_s * 1_000_000, rep=rep, until=("u", None)
    )
    assert _drive_nfa_chunked(proc, evs, cuts, 3, extra_cols=("n_rep",)) == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "u"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_until_composes_with_timesormore_any_chunking(events, cuts):
    """until('u') × timesOrMore(2): a run frozen below the quota can
    never complete (it expires silently); a run frozen at or above it
    completes on the next-step event with its truncated n_rep."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, rep, window_s = ("a", "b", "c"), 1, 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _until_sim(
        [(u, i, t, e) for u, i, t, e in evs], steps, rep, window_s, 2, "u"
    )
    proc = _make_processor(
        steps, window_s * 1_000_000, rep=rep, min_reps=2, until=("u", None)
    )
    assert _drive_nfa_chunked(proc, evs, cuts, 3, extra_cols=("n_rep",)) == want


def test_cep_until_truncates_greedy_run():
    """Golden non-vacuity pin: the stop event truncates the greedy run
    mid-stream — n_rep and the repeated step's ts column both shrink vs
    the no-until twin, and completion still happens."""
    from hello_flink_spark.streaming.cep import _make_processor

    # a @0, b @10, b @20, u @25, b @30, c @40
    evs = [
        (1, 0, 0, "a"),
        (1, 1, 10, "b"),
        (1, 2, 20, "b"),
        (1, 3, 25, "u"),
        (1, 4, 30, "b"),
        (1, 5, 40, "c"),
    ]
    w = 60 * 1_000_000
    plain = _make_processor(("a", "b", "c"), w, rep=1)
    frozen = _make_processor(("a", "b", "c"), w, rep=1, until=("u", None))
    assert _drive_nfa_chunked(plain, evs, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 30, 40, 3)
    ]
    assert _drive_nfa_chunked(frozen, evs, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 20, 40, 2)
    ]
    # same-µs tie class: a stop event ON the last repetition's ts does
    # not freeze (strict >) — the b @30 extension goes through
    tie = [
        (1, 0, 0, "a"),
        (1, 1, 20, "b"),
        (1, 2, 20, "u"),
        (1, 3, 30, "b"),
        (1, 4, 40, "c"),
    ]
    assert _drive_nfa_chunked(frozen, tie, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 30, 40, 2)
    ]
    # until guards acceptance INTO the looping state: a stop event
    # arriving while the run still WAITS for its first repetition
    # kills the run — the first b after the stop is refused and the
    # pattern can never emit (the Flink boundary the code-review
    # surfaced; the plain twin still matches)
    waiter = [
        (1, 0, 0, "a"),
        (1, 1, 5, "u"),
        (1, 2, 10, "b"),
        (1, 3, 20, "c"),
    ]
    assert _drive_nfa_chunked(plain, waiter, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 10, 20, 1)
    ]
    assert _drive_nfa_chunked(frozen, waiter, [], 3, extra_cols=("n_rep",)) == []


def test_cep_until_value_guard_is_behavioral():
    """until_min_value gates WHICH stop events freeze: a below-guard
    stop event is a no-op (the run keeps extending), an at-or-above-
    guard one freezes — pinned with real values through the NFA, not
    just the construction round-trip."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import _make_processor

    def drive(values_by_eid):
        proc = _make_processor(
            ("a", "b", "c"), 60 * 1_000_000, rep=1, until=("u", 5.0)
        )
        evs = [
            (0, 0, "a", 0.0),
            (1, 10, "b", 0.0),
            (2, 15, "u", values_by_eid[2]),
            (3, 20, "b", 0.0),
            (4, 30, "c", 0.0),
        ]
        rows = pd.DataFrame(
            {
                "user_id": [1] * len(evs),
                "event_id": [e[0] for e in evs],
                "ts": [pd.Timestamp(e[1], unit="s") for e in evs],
                "event_type": [e[2] for e in evs],
                "value": [e[3] for e in evs],
            }
        )
        out = pd.concat(list(_fold_nfa(proc, 1, [rows])), ignore_index=True)
        return [
            (r.user_id, r.anchor_id, r.n_rep) for r in out.itertuples()
        ]

    # u carries 4.9 < 5.0: no freeze, the b @20 extends (n_rep=2)
    assert drive({2: 4.9}) == [(1, 0, 2)]
    # u carries 5.0 >= 5.0: freeze, the b @20 is refused (n_rep=1)
    assert drive({2: 5.0}) == [(1, 0, 1)]


def test_cep_until_frozen_below_quota_times_out():
    """A run frozen with fewer than min_reps repetitions can never
    complete: the timeout side-output must emit it as a GENUINE timeout
    (matched=false) once the window expires — not silently discard it."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import _make_processor

    proc = _make_processor(
        ("a", "b", "c"),
        60 * 1_000_000,
        emit_timeouts=True,
        rep=1,
        min_reps=2,
        until=("u", None),
    )
    evs = [
        (1, 0, 0, "a"),
        (1, 1, 10, "b"),
        (1, 2, 15, "u"),   # frozen at cnt=1 < min_reps=2
        (1, 3, 20, "c"),   # premature completion: relaxed no-op
        (1, 4, 200, "a"),  # a later group expires the frozen run inline
    ]
    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _ in evs],
            "event_id": [i for _, i, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _ in evs],
            "event_type": [e for _, _, _, e in evs],
            "value": [0.0] * len(evs),
        }
    )
    out = pd.concat(list(_fold_nfa(proc, 1, [rows])), ignore_index=True)
    timeouts = out[~out["matched"]]
    assert len(timeouts) == 1
    row = timeouts.iloc[0]
    assert (row["user_id"], row["anchor_id"]) == (1, 0)
    # the frozen run timed out with its 2-stage prefix (ts3 never filled)
    assert pd.isna(row["ts3"]) and not pd.isna(row["ts2"])
    assert not out[out["matched"]].shape[0], "a frozen sub-quota run completed"


def test_cep_until_validation():
    """until() construction rules: requires one_or_more; stop type
    disjoint from the loop and its successor; no notNext composition
    on the loop stages; value guard requires the type."""
    import pytest as _pytest

    from hello_flink_spark.streaming.cep import CepPattern

    with _pytest.raises(ValueError, match="requires a looping stage"):
        CepPattern(steps=("a", "b", "c"), within_minutes=1, until_type="u")
    with _pytest.raises(ValueError, match="differ from the repeated"):
        CepPattern(
            steps=("a", "b", "c"), within_minutes=1, one_or_more=1, until_type="b"
        )
    with _pytest.raises(ValueError, match="differ from the successor"):
        CepPattern(
            steps=("a", "b", "c"), within_minutes=1, one_or_more=1, until_type="c"
        )
    with _pytest.raises(ValueError, match="until_min_value requires"):
        CepPattern(steps=("a", "b", "c"), within_minutes=1, until_min_value=1.0)
    # the post-optional effective successor: with the loop's successor
    # optional, a stop event of the NEXT step's type would complete
    # (via the optional skip) AND freeze — rejected
    with _pytest.raises(ValueError, match="post-optional successor"):
        CepPattern(
            steps=("a", "b", "c", "d"),
            within_minutes=1,
            one_or_more=1,
            optional_steps=(2,),
            until_type="d",
        )
    # until × not_next on the loop stages needs no guard of its own:
    # the pre-existing neighborhood rule already rejects it for every
    # one_or_more pattern (with or without until)
    with _pytest.raises(ValueError, match="must stay clear"):
        CepPattern(
            steps=("a", "b", "c"),
            within_minutes=1,
            one_or_more=1,
            until_type="u",
            not_next=(None, "x", None),
        )
    # the valid construction round-trips
    p = CepPattern(
        steps=("a", "b", "c"),
        within_minutes=1,
        one_or_more=1,
        until_type="u",
        until_min_value=5.0,
    )
    assert (p.until_type, p.until_min_value) == ("u", 5.0)


# ---------------------------------------------------------------------------
# [F] IterativeCondition over the Kleene run's accepted events, aggregate
# form — run_min_total ("repetitions totaling >= X, then the next step")
# ---------------------------------------------------------------------------


def _drive_nfa_chunked_v(proc, evs, cuts, k, extra_cols=()):
    """_drive_nfa_chunked with per-event VALUES: evs are
    (uid, eid, ts, etype, value) 5-tuples."""
    import pandas as pd

    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _, _ in evs],
            "event_id": [i for _, i, _, _, _ in evs],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _, _ in evs],
            "event_type": [e for _, _, _, e, _ in evs],
            "value": [float(v) for _, _, _, _, v in evs],
        }
    )
    bounds = sorted({c for c in cuts if c < len(evs)} | {0, len(evs)})
    chunks = [rows.iloc[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    got = []
    for uid in sorted(rows["user_id"].unique()):
        for out in _fold_nfa(proc, uid, [c[c["user_id"] == uid] for c in chunks]):
            got.extend(
                (
                    r.user_id,
                    r.anchor_id,
                    *(int(getattr(r, f"ts{j + 1}").timestamp()) for j in range(k)),
                    *(getattr(r, c) for c in extra_cols),
                )
                for r in out.itertuples()
            )
    return sorted(got)


def _runtotal_sim(evs, steps, rep, window_s, min_reps, run_total):
    """Per-anchor model of the Kleene run-aggregate guard: the greedy
    run accumulates the SUM of accepted repetition values; a next-step
    event completes only once BOTH gates hold (count >= min_reps, sum
    >= run_total) — an earlier one is a relaxed no-op and the run keeps
    extending. Written directly against the [F] IterativeCondition-
    over-getEventsForPattern semantics; shares no code with the NFA."""
    k = len(steps)
    out = []
    for pos, (uid, aid, ts0, etype0, v0) in enumerate(evs):
        if etype0 != steps[0]:
            continue
        tss, cnt, tot = [ts0], 0, 0.0
        for uid2, eid, ts, etype, v in evs[pos + 1:]:
            if uid2 != uid:
                continue
            if ts - tss[-1] > window_s:
                break
            stage = len(tss)
            if stage == rep + 1 and etype == steps[rep] and ts > tss[-1]:
                tss[-1] = ts
                cnt += 1
                tot += v
                continue
            if stage == rep + 1 and etype == steps[stage] and (
                cnt < min_reps or tot < run_total
            ):
                continue  # a gate unmet: relaxed no-op
            if stage < k and etype == steps[stage] and ts > tss[-1]:
                tss.append(ts)
                if stage == rep:
                    cnt, tot = 1, v
                if len(tss) == k:
                    out.append((uid, aid, *tss, cnt))
                    break
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
            st.integers(0, 3),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_run_total_nfa_matches_simulation_any_chunking(events, cuts):
    """run_min_total(4) in the NFA under every micro-batch split: the
    running total accumulates over accepted repetitions only, an
    under-total next-step event is a relaxed no-op, and completion
    requires the total to clear the bar."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, rep, window_s = ("a", "b", "c"), 1, 60
    evs = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _runtotal_sim(evs, steps, rep, window_s, 1, 4.0)
    proc = _make_processor(steps, window_s * 1_000_000, rep=rep, run_total=4.0)
    assert _drive_nfa_chunked_v(proc, evs, cuts, 3, extra_cols=("n_rep",)) == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
            st.integers(0, 3),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_run_total_composes_with_timesormore_any_chunking(events, cuts):
    """run_min_total(3) x timesOrMore(2): BOTH gates must hold at the
    completing event — count quota and value mass are independent."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, rep, window_s = ("a", "b", "c"), 1, 60
    evs = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _runtotal_sim(evs, steps, rep, window_s, 2, 3.0)
    proc = _make_processor(
        steps, window_s * 1_000_000, rep=rep, min_reps=2, run_total=3.0
    )
    assert _drive_nfa_chunked_v(proc, evs, cuts, 3, extra_cols=("n_rep",)) == want


def test_cep_run_total_gates_completion():
    """Golden: with threshold 5, a next-step event after repetitions
    totaling 3 is a relaxed no-op — the run keeps extending and the
    match completes at the SECOND next-step event with n_rep=3 and
    the repeated slot's ts at the third repetition; the no-guard twin
    completes at the first."""
    from hello_flink_spark.streaming.cep import _make_processor

    evs = [
        (1, 0, 0, "a", 0.0),
        (1, 1, 10, "b", 2.0),
        (1, 2, 20, "b", 1.0),
        (1, 3, 25, "c", 0.0),   # total 3 < 5: ignored
        (1, 4, 30, "b", 3.0),   # total 6
        (1, 5, 40, "c", 0.0),   # completes
    ]
    w = 60 * 1_000_000
    plain = _make_processor(("a", "b", "c"), w, rep=1)
    gated = _make_processor(("a", "b", "c"), w, rep=1, run_total=5.0)
    assert _drive_nfa_chunked_v(plain, evs, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 20, 25, 2)
    ]
    assert _drive_nfa_chunked_v(gated, evs, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 30, 40, 3)
    ]


def test_cep_run_total_until_composition():
    """run_min_total x until: a frozen run completes only if its
    already-accumulated total clears the bar — freezing below the bar
    makes the run permanently incompletable."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    proc = _make_processor(
        ("a", "b", "c"), w, rep=1, run_total=5.0, until=("u", None)
    )
    # frozen at total 6 >= 5: still completes
    rich = [
        (1, 0, 0, "a", 0.0),
        (1, 1, 10, "b", 6.0),
        (1, 2, 15, "u", 0.0),
        (1, 3, 20, "b", 9.0),  # frozen: not accepted
        (1, 4, 30, "c", 0.0),
    ]
    assert _drive_nfa_chunked_v(proc, rich, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 10, 30, 1)
    ]
    # frozen at total 2 < 5: can never complete
    poor = [
        (1, 0, 0, "a", 0.0),
        (1, 1, 10, "b", 2.0),
        (1, 2, 15, "u", 0.0),
        (1, 3, 20, "b", 9.0),
        (1, 4, 30, "c", 0.0),
    ]
    assert _drive_nfa_chunked_v(proc, poor, [], 3, extra_cols=("n_rep",)) == []


def test_cep_run_total_validation():
    """Construction rules: requires one_or_more; refuses a rel_guard
    referencing the loop step (the value slot is the running total)."""
    import pytest as _pytest

    from hello_flink_spark.streaming.cep import CepPattern

    with _pytest.raises(ValueError, match="requires a looping stage"):
        CepPattern(steps=("a", "b", "c"), within_minutes=1, run_min_total=5.0)
    with _pytest.raises(ValueError, match="cannot compose"):
        CepPattern(
            steps=("a", "b", "c", "d"),
            within_minutes=1,
            one_or_more=1,
            run_min_total=5.0,
            rel_guards=(None, None, None, (1, 1.0)),
        )
    p = CepPattern(
        steps=("a", "b", "c"), within_minutes=1, one_or_more=1, run_min_total=5.0
    )
    assert p.run_min_total == 5.0


# ---------------------------------------------------------------------------
# [F] GroupPattern — (b c)+ as a repeating unit (round 9)
# ---------------------------------------------------------------------------


def _group_sim(evs, steps, gi, gj, window_s):
    """Per-anchor model of the greedy single-match [F] GroupPattern:
    steps gi..gj repeat as a UNIT. Each repetition completes the whole
    group in order (relaxed contiguity within); at a boundary (a
    repetition just completed) a group-start event strictly later
    restarts the group (prior repetition's slots discarded — emitted
    columns hold the LAST repetition) while the post-group step's
    event completes the stage; first-event-wins. Mid-repetition
    group-start events are relaxed-contiguity ignored. Written
    directly against the semantics; shares no code with the NFA."""
    k = len(steps)
    out = []
    for pos, (uid, aid, ts0, etype0) in enumerate(evs):
        if etype0 != steps[0]:
            continue
        tss, cnt = [ts0], 0
        for uid2, eid, ts, etype in evs[pos + 1:]:
            if uid2 != uid:
                continue
            if ts - tss[-1] > window_s:
                break
            stage = len(tss)
            if stage == gj + 1 and etype == steps[gi] and ts > tss[-1]:
                tss = tss[:gi] + [ts]
                continue
            if stage < k and etype == steps[stage] and ts > tss[-1]:
                tss.append(ts)
                if stage == gj:
                    cnt += 1
                if len(tss) == k:
                    out.append((uid, aid, *tss, cnt))
                    break
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "d"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_group_nfa_matches_simulation_any_chunking(events, cuts):
    """a (b c)+ d in the NFA under every micro-batch split: boundary
    restarts, mid-repetition relaxed no-ops, n_rep counting COMPLETED
    repetitions, and the emitted group slots holding the LAST
    repetition must all match the independent model."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c", "d"), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _group_sim(evs, steps, 1, 2, window_s)
    proc = _make_processor(steps, window_s * 1_000_000, grp=(1, 2))
    assert _drive_nfa_chunked(proc, evs, cuts, 4, extra_cols=("n_rep",)) == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 200),
            st.sampled_from(["a", "b", "c", "d", "e"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_group_three_step_nfa_matches_simulation(events, cuts):
    """A THREE-step group — a (b c d)+ e — exercises mid-repetition
    depth the two-step group cannot (a restart discards two filled
    slots; a mid-rep boundary-type event has two distinct no-op
    stages)."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c", "d", "e"), 100
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _group_sim(evs, steps, 1, 3, window_s)
    proc = _make_processor(steps, window_s * 1_000_000, grp=(1, 3))
    assert _drive_nfa_chunked(proc, evs, cuts, 5, extra_cols=("n_rep",)) == want


def test_cep_group_goldens():
    """Pinned behaviors: (1) two completed repetitions — emitted group
    slots hold the LAST repetition, n_rep=2; (2) a mid-repetition
    group-start event is a relaxed no-op; (3) at a boundary the
    post-group event arriving first completes with the current count;
    (4) same-µs boundary tie: a group-start event ON the boundary ts
    does not restart (strict >)."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    proc = _make_processor(("a", "b", "c", "d"), w, grp=(1, 2))
    two_reps = [
        (1, 0, 0, "a"), (1, 1, 10, "b"), (1, 2, 20, "c"),
        (1, 3, 30, "b"), (1, 4, 40, "c"), (1, 5, 50, "d"),
    ]
    assert _drive_nfa_chunked(proc, two_reps, [], 4, extra_cols=("n_rep",)) == [
        (1, 0, 0, 30, 40, 50, 2)
    ]
    midrep_noop = [
        (1, 0, 0, "a"), (1, 1, 10, "b"), (1, 2, 15, "b"),  # mid-rep b: no-op
        (1, 3, 20, "c"), (1, 4, 30, "d"),
    ]
    assert _drive_nfa_chunked(proc, midrep_noop, [], 4, extra_cols=("n_rep",)) == [
        (1, 0, 0, 10, 20, 30, 1)
    ]
    boundary_d_first = [
        (1, 0, 0, "a"), (1, 1, 10, "b"), (1, 2, 20, "c"),
        (1, 3, 25, "d"), (1, 4, 30, "b"),
    ]
    assert _drive_nfa_chunked(
        proc, boundary_d_first, [], 4, extra_cols=("n_rep",)
    ) == [(1, 0, 0, 10, 20, 25, 1)]
    tie = [
        (1, 0, 0, "a"), (1, 1, 10, "b"), (1, 2, 20, "c"),
        (1, 3, 20, "b"),  # same µs as the boundary: no restart
        (1, 4, 30, "d"),
    ]
    assert _drive_nfa_chunked(proc, tie, [], 4, extra_cols=("n_rep",)) == [
        (1, 0, 0, 10, 20, 30, 1)
    ]


def test_cep_group_validation():
    """Construction rules: strictly-middle multi-step span, pairwise-
    disjoint type-sets through the post-group step, and the v1
    composition refusals."""
    import pytest as _pytest

    from hello_flink_spark.streaming.cep import CepPattern

    with _pytest.raises(ValueError, match="strictly-middle multi-step"):
        CepPattern(steps=("a", "b", "c"), within_minutes=1, group_reps=(1, 1))
    with _pytest.raises(ValueError, match="strictly-middle multi-step"):
        CepPattern(
            steps=("a", "b", "c", "d"), within_minutes=1, group_reps=(1, 3)
        )
    with _pytest.raises(ValueError, match="pairwise disjoint"):
        CepPattern(
            steps=("a", "b", "c", "b"), within_minutes=1, group_reps=(1, 2)
        )
    # (r10: optional COMPOSES off-span; the POST-GROUP slot stays out)
    with _pytest.raises(ValueError, match="stay clear of the group span"):
        CepPattern(
            steps=("a", "b", "c", "d", "e"),
            within_minutes=1,
            group_reps=(1, 2),
            optional_steps=(3,),
        )
    p = CepPattern(
        steps=("a", "b", "c", "d"), within_minutes=1, group_reps=(1, 2)
    )
    assert p.group_reps == (1, 2)
    # the join-chain shadow refuses variable-length runs
    from hello_flink_spark.streaming.cep import compile_batch

    with _pytest.raises(ValueError, match="no join-chain shadow"):
        compile_batch(p, None)


def test_cep_run_total_nan_fails_closed():
    """A NULL repetition value (NaN in the pandas batch) makes the run
    total unknown — an unknown total must NOT clear the bar (the
    review-caught inversion: NaN < bar is False, so the old gate
    silently passed)."""
    from hello_flink_spark.streaming.cep import _make_processor

    proc = _make_processor(
        ("a", "b", "c"), 60 * 1_000_000, rep=1, run_total=100.0
    )
    evs = [
        (1, 0, 0, "a", 0.0),
        (1, 1, 10, "b", float("nan")),
        (1, 2, 20, "b", 1.0),
        (1, 3, 30, "c", 0.0),
    ]
    assert _drive_nfa_chunked_v(proc, evs, [], 3, extra_cols=("n_rep",)) == []


def test_cep_group_v1_refusals_from_review():
    """Review-caught validation holes: of() must reject group_reps on
    an expanded spec (the indexes shift). The r9 refusals of group ×
    step_min_value and group × timeout side-output were MODELED in r10
    (VERDICT r09 #3) — both now construct/compile (their property
    suites live above); the remaining group compositions stay refused."""
    import pytest as _pytest

    from hello_flink_spark.streaming.cep import CepPattern

    with _pytest.raises(ValueError, match="group_reps"):
        CepPattern.of(
            [("a", 2), "b", "c", "d"], within_minutes=5, group_reps=(1, 2)
        )
    p = CepPattern(
        steps=("a", "b", "c", "d"),
        within_minutes=1,
        group_reps=(1, 2),
        step_min_value=(None, 5.0, None, None),
    )
    assert p.group_reps == (1, 2)
    # group × skipPastLastEvent was modeled in a later r10 session
    # (full group × skip × timeout triple, suites above): constructs
    ps = CepPattern(
        steps=("a", "b", "c", "d"),
        within_minutes=1,
        group_reps=(1, 2),
        skip_past_last=True,
    )
    assert ps.skip_past_last
    # (r10: strict COMPOSES off-span; the post-group step stays out)
    with _pytest.raises(ValueError, match="group-span stage or"):
        CepPattern(
            steps=("a", "b", "c", "d"),
            within_minutes=1,
            group_reps=(1, 2),
            strict_steps=(3,),
        )


# ---------------------------------------------------------------------------
# Round 10 (VERDICT r09 #3): the previously-refused CEP compositions —
# group_reps × step_min_value, group_reps × timeout side-output,
# skipToFirst/skipToLast × any_match — each modeled property-suite-first.
# ---------------------------------------------------------------------------


def _group_full_sim(
    evs5,
    steps,
    gi,
    gj,
    window_s,
    mins=None,
    until=None,
    run_total=None,
    optionals=frozenset(),
    strict=frozenset(),
    not_between=None,
    not_next=None,
    rel=None,
    emit_vals=(),
):
    """_group_sim extended with per-step value guards AND the timeout
    side-output: returns (matches, timeouts). A guard-failing event is
    a relaxed no-op in every role (anchor, in-group promotion,
    boundary restart); a non-completing anchor's partial freezes at
    its expiry point and emits its stage prefix (group slots hold the
    current — possibly partially refilled — repetition, n_rep counts
    COMPLETED repetitions). With ``until`` (r10: group × until — [F]
    GroupPattern.oneOrMore().until), a stop event strictly later than
    the last accepted event freezes acceptance INTO the group's
    looping state: no boundary restart, no in-group promotion (a
    frozen mid-repetition partial can never refill its slots and
    expires as a genuine timeout); completion OUT of a finished
    repetition via the post-group step stays allowed. Written directly
    against the semantics; shares no code with the NFA. With ``rel``
    (r11: group × rel_guards — [F] IterativeCondition), each guarded
    step's event must satisfy value >= factor * (the partial's
    accepted value at the referenced step); the guard applies in
    EVERY acceptance role — in-group promotion, completion, AND the
    boundary restart (a failing event is a relaxed no-op). Slot
    convention: pre-group values survive restarts; in-span values are
    discarded WITH the repetition, so an in-span ref reads the
    current repetition mid-span and the last completed repetition
    from the post-group step onward. ``emit_vals`` appends the named
    steps' accepted values to each emitted tuple (matches and
    timeouts), mirroring the NFA's v-columns."""
    k = len(steps)
    mins = mins or (None,) * k
    rel = rel or (None,) * k

    def _guard_ok(stage, vals, v):
        g = rel[stage]
        if g is None:
            return True
        rv = vals[g[0]] if g[0] < len(vals) else None
        return rv is not None and v >= g[1] * rv

    def _emit(uid, aid, tss, vals, cnt):
        # NFA row order: ts columns, v columns (emit_vals), n_rep
        vcols = tuple(vals[j] if j < len(vals) else None for j in emit_vals)
        return (uid, aid, *tss, *vcols, cnt)

    matches, touts = [], []
    for pos, (uid, aid, ts0, et0, v0) in enumerate(evs5):
        if et0 != steps[0] or (mins[0] is not None and v0 < mins[0]):
            continue
        tss, cnt, done = [ts0], 0, False
        vals = [v0]
        frozen = False
        tot = 0.0
        strict_t1 = None  # first strictly-later group ts at a strict wait
        dead_silent = False  # strict/guard violation: no timeout row
        # notNext guard armed by the last accepted step (incl. the
        # anchor itself: nn[0] arms at anchor creation)
        armed = not_next[0] if not_next is not None else None
        for uid2, eid, ts, et, v in evs5[pos + 1:]:
            if uid2 != uid:
                continue
            # a strict-stage waiter whose first strictly-later group
            # ended unpromoted dies SILENTLY (contiguity violation,
            # not a timeout) — judged before window expiry, since the
            # NFA marks the kill at that group's end
            if strict_t1 is not None and ts > strict_t1:
                dead_silent = True
                break
            if ts - tss[-1] > window_s:
                break  # expired before this event: prefix frozen
            stage = len(tss)
            # notNext: the first strictly-later event resolves an armed
            # guard — forbidden type kills SILENTLY, anything else
            # clears (before this event can promote anything)
            if armed is not None and ts > tss[-1]:
                if et == armed:
                    dead_silent = True
                    break
                armed = None
            # mid-pattern notFollowedBy: a forbidden-type event strictly
            # later kills the partial waiting at the guarded stage —
            # a violation, not a timeout
            if (
                not_between is not None
                and stage < k
                and not_between[stage] == et
                and ts > tss[-1]
            ):
                dead_silent = True
                break
            if (
                until is not None
                and et == until[0]
                and (until[1] is None or v >= until[1])
                and ts > tss[-1]
                and gi <= stage <= gj + 1
            ):
                frozen = True
                continue
            if (
                stage == gj + 1
                and et == steps[gi]
                and ts > tss[-1]
                and not frozen
                and (mins[gi] is None or v >= mins[gi])
                and _guard_ok(gi, vals, v)
            ):
                tss = tss[:gi] + [ts]
                vals = vals[:gi] + [v]
                continue
            # optional skip (first-event-wins): the successor's event
            # arriving before any optional-step event takes BOTH slots
            # (None at the optional, ts at the successor)
            if (
                stage in optionals
                and et == steps[stage + 1]
                and ts > tss[-1]
                and (mins[stage + 1] is None or v >= mins[stage + 1])
            ):
                tss.extend([None, ts])
                vals.extend([None, v])
                strict_t1 = None
                if not_next is not None:
                    armed = not_next[stage + 1]
                if stage + 1 == gj:
                    cnt += 1
                    tot += v
                if len(tss) == k:
                    matches.append(_emit(uid, aid, tss, vals, cnt))
                    done = True
                    break
                continue
            if (
                stage < k
                and et == steps[stage]
                and ts > tss[-1]
                and (mins[stage] is None or v >= mins[stage])
                and _guard_ok(stage, vals, v)
            ):
                if frozen and gi <= stage <= gj:
                    continue  # acceptance INTO the loop refused
                if (
                    run_total is not None
                    and stage == gj + 1
                    and tot < run_total
                ):
                    continue  # under-total exit: relaxed no-op
                tss.append(ts)
                vals.append(v)
                strict_t1 = None
                if not_next is not None:
                    armed = not_next[stage]
                if stage == gj:
                    cnt += 1
                    tot += v
                if len(tss) == k:
                    matches.append(_emit(uid, aid, tss, vals, cnt))
                    done = True
                    break
                continue
            # unpromoted strictly-later event while waiting at a
            # strict stage: remember its group — promotion by a
            # same-timestamp event later in the group is still allowed
            if (
                len(tss) in strict
                and ts > tss[-1]
                and strict_t1 is None
                and not dead_silent
            ):
                strict_t1 = ts
        # a strictly-later group that ended unpromoted marks the kill
        # at ITS OWN end — stream end included: still a silent discard
        if strict_t1 is not None:
            dead_silent = True
        if not done and not dead_silent:
            touts.append(
                _emit(uid, aid, tss + [None] * (k - len(tss)), vals, cnt)
            )
    skey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    return sorted(matches), sorted(touts, key=skey)


def _drive_nfa_rows_t(proc, evs5, cuts, k, flush_ts):
    """Timeout-aware chunked driver: appends a per-user sentinel event
    (type 'zz', far beyond every window) so inline pruning emits every
    open partial's timeout row, then returns
    (matched_rows, timeout_rows) as (uid, aid, ts...|None, n_rep)."""
    import pandas as pd

    users = sorted({u for u, _, _, _, _ in evs5})
    evs5 = list(evs5) + [
        (u, 10_000 + i, flush_ts, "zz", 0.0) for i, u in enumerate(users)
    ]
    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _, _ in evs5],
            "event_id": [i for _, i, _, _, _ in evs5],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _, _ in evs5],
            "event_type": [e for _, _, _, e, _ in evs5],
            "value": [float(v) for _, _, _, _, v in evs5],
        }
    )
    bounds = sorted({c for c in cuts if c < len(evs5)} | {0, len(evs5)})
    chunks = [rows.iloc[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    got_m, got_t = [], []
    for uid in users:
        for out in _fold_nfa(proc, uid, [c[c["user_id"] == uid] for c in chunks]):
            for r in out.itertuples():
                tup = (
                    r.user_id,
                    r.anchor_id,
                    *(
                        None
                        if pd.isna(getattr(r, f"ts{j + 1}"))
                        else int(getattr(r, f"ts{j + 1}").timestamp())
                        for j in range(k)
                    ),
                    r.n_rep,
                )
                (got_m if r.matched else got_t).append(tup)
    skey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    return sorted(got_m), sorted(got_t, key=skey)


GROUP_GUARD_EVENTS = st.lists(
    st.tuples(
        st.integers(1, 2),
        st.integers(0, 120),
        st.sampled_from(["a", "b", "c", "d"]),
        st.sampled_from([0.0, 5.0, 10.0]),
    ),
    min_size=1,
    max_size=30,
)


@given(
    events=GROUP_GUARD_EVENTS,
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_group_guard_nfa_matches_simulation_any_chunking(events, cuts):
    """group_reps × step_min_value under every micro-batch split:
    guard-failing events are relaxed no-ops as anchors, in-group
    promotions AND boundary restarts."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c", "d"), 60
    mins = (None, 5.0, None, 5.0)
    evs5 = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want, _ = _group_full_sim(evs5, steps, 1, 2, window_s, mins=mins)
    proc = _make_processor(steps, window_s * 1_000_000, mins=mins, grp=(1, 2))
    assert _drive_nfa_chunked_v(proc, evs5, cuts, 4, extra_cols=("n_rep",)) == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "d"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_group_timeouts_nfa_matches_simulation_any_chunking(events, cuts):
    """group_reps × timeout side-output under every micro-batch split:
    every non-completing anchor emits exactly one matched=false row
    holding its stage prefix at expiry (group slots may hold a
    partially refilled repetition) and n_rep = completed repetitions."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c", "d"), 60
    evs5 = sorted(
        ((u, i, t, e, 0.0) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _group_full_sim(evs5, steps, 1, 2, window_s)
    proc = _make_processor(
        steps, window_s * 1_000_000, emit_timeouts=True, grp=(1, 2)
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 4, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


def test_cep_group_guard_timeout_goldens():
    """Pinned compositions: (1) a guard-failing boundary restart is a
    no-op (the passing d completes with the standing count); (2) a
    guard-failing in-group c is a no-op and the partial times out with
    its prefix; (3) a mid-repetition timeout's group slots hold the
    refilled prefix; (4) guards + timeouts together."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    mins = (None, 5.0, None, None)
    proc = _make_processor(("a", "b", "c", "d"), w, mins=mins, grp=(1, 2))
    # b@30 fails the guard: no restart discards slots; d@40 completes
    guard_restart_noop = [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 9.0), (1, 2, 20, "c", 0.0),
        (1, 3, 30, "b", 1.0), (1, 4, 40, "d", 0.0),
    ]
    assert _drive_nfa_chunked_v(
        proc, guard_restart_noop, [], 4, extra_cols=("n_rep",)
    ) == [(1, 0, 0, 10, 20, 40, 1)]

    tproc = _make_processor(
        ("a", "b", "c", "d"), w, emit_timeouts=True, grp=(1, 2)
    )
    # one full repetition, then b@30 reopens: timeout carries the
    # refilled (30) slot with c/d empty, n_rep=1
    midrep_timeout = [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "c", 0.0),
        (1, 3, 30, "b", 0.0),
    ]
    got_m, got_t = _drive_nfa_rows_t(tproc, midrep_timeout, [], 4, flush_ts=10_000)
    assert got_m == []
    assert got_t == [(1, 0, 0, 30, None, None, 1)]

    gtproc = _make_processor(
        ("a", "b", "c", "d"), w, mins=mins, emit_timeouts=True, grp=(1, 2)
    )
    # the only b fails the guard: the anchor times out alone, n_rep=0
    guard_timeout = [(1, 0, 0, "a", 0.0), (1, 1, 10, "b", 1.0)]
    got_m, got_t = _drive_nfa_rows_t(gtproc, guard_timeout, [], 4, flush_ts=10_000)
    assert got_m == []
    assert got_t == [(1, 0, 0, None, None, None, 0)]


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_first_any_final_matches_simulation(events, cuts):
    """skipToFirst × followedByAny(final): same-event branch fan-outs
    are judged in (anchor_ts, anchor_id, branch) order against the
    running step-1 boundary, under every chunking."""
    _run_skip_to(events, cuts, "to_first", j=1, anyset={2})


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_last_any_final_matches_simulation(events, cuts):
    """skipToLast × followedByAny(final) with the reference on the
    final (branching) step itself."""
    _run_skip_to(events, cuts, "to_last", j=2, anyset={2})


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_first_any_mid_matches_simulation(events, cuts):
    """skipToFirst × followedByAny(mid): the mid-stage fork multiplies
    completions at one event; the boundary fold must still match."""
    _run_skip_to(events, cuts, "to_first", j=0, anyset={1})


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_last_any_mid_matches_simulation(events, cuts):
    _run_skip_to(events, cuts, "to_last", j=1, anyset={1})


def test_cep_skip_to_any_match_golden():
    """Pinned: two anchors, branch fan-out at the final step. to_last
    on the final step: the first emission's c-ts boundary kills the
    later-anchored partial; both same-event branches of the surviving
    anchor emit (ties survive the >= boundary)."""
    from hello_flink_spark.streaming.cep import _make_processor

    evs = [
        (1, 0, 0, "a"), (1, 1, 5, "a"), (1, 2, 10, "b"),
        (1, 3, 20, "c"), (1, 4, 30, "c"),
    ]
    proc = _make_processor(
        ("a", "b", "c"),
        60 * 1_000_000,
        any_match=frozenset({2}),
        skip_to=("to_last", 2),
    )
    got = _drive_nfa_chunked(proc, evs, [], 3)
    # at c@20 both anchors complete; anchor 0 emits first, boundary=20
    # kills nothing anchored >= ... anchor@5 started before 20 -> killed
    # after its own same-event emission is judged: anchor 5 < 20 fails.
    # at c@30 the any-match-armed partials for anchor 0/5 were pruned
    # by the boundary (0 < 20, 5 < 20), so no further rows.
    assert got == [(1, 0, 0, 10, 20)]


# ---------------------------------------------------------------------------
# Round 10 (VERDICT r09 #4): reluctant oneOrMore — [F] Pattern#oneOrMore
# default (non-greedy) multi-match: every prefix-run is its own match.
# ---------------------------------------------------------------------------


def _reluctant_sim(
    evs5, steps, rep, window_s, min_reps=1, max_reps=None, until=None
):
    """Per-anchor model of the reluctant Kleene emission policy: the
    run's extension/completion decisions are the GREEDY ones (the
    quota-gated first next-step event completes), but the completion
    emits one match per prefix length m in [min_reps..n] whose branch
    was still in-window at the completing event (per-branch windows,
    measured from that prefix's LAST repetition); each surviving
    prefix then continues through any later stages along the same
    first-eligible chain. With ``until`` (r10: reluctant × until — the
    actual [F] DEFAULT, since Flink's oneOrMore is reluctant unless
    .greedy()), a stop event strictly later than the run's last
    accepted event freezes acceptance INTO the loop: no further
    repetitions (so no new prefixes), already-spawned prefixes still
    complete, and a run still awaiting its FIRST repetition is dead.
    Written directly against the semantics — per-anchor with explicit
    repetition lists, sharing no code or state layout with the NFA's
    frozen-branch partial list."""
    k = len(steps)
    out = []
    for pos, (uid, aid, ts0, et0, v0) in enumerate(evs5):
        if et0 != steps[0]:
            continue
        cur = [ts0]
        reps: list[int] = []
        cnt = 0
        comp = None
        rest_from = None
        frozen = False
        for qpos, (uid2, eid, ts, et, v) in enumerate(evs5[pos + 1:], pos + 1):
            if uid2 != uid:
                continue
            if ts - cur[-1] > window_s:
                break
            stage = len(cur)
            if (
                until is not None
                and et == until[0]
                and (until[1] is None or v >= until[1])
                and ts > cur[-1]
                and stage in (rep, rep + 1)
            ):
                frozen = True
                continue
            if (
                stage == rep + 1
                and et == steps[rep]
                and ts > cur[-1]
                and not frozen
                and (max_reps is None or cnt < max_reps)
            ):
                reps.append(ts)
                cur[-1] = ts
                cnt += 1
                continue
            if stage == rep + 1 and et == steps[rep + 1]:
                # per-branch judgement (r10 — aligned with the
                # run_min_total model and the NFA): the anchor
                # completes at the first next-step event for which ANY
                # branch (prefix m or the head) is strictly-later,
                # in-window, and quota-satisfying. A head extended by
                # this same timestamp group is NOT strictly-later, but
                # an older prefix can still be — the completion is no
                # longer gated on the head alone.
                if any(
                    ts > reps[m - 1] and ts - reps[m - 1] <= window_s
                    for m in range(min_reps, cnt + 1)
                ):
                    comp, rest_from = ts, qpos
                    break
                continue  # no branch eligible: relaxed no-op
            if stage < k and stage != rep + 1 and et == steps[stage] and ts > cur[-1]:
                if frozen and stage == rep:
                    continue  # first repetition refused: run is dead
                cur.append(ts)
                if stage == rep:
                    reps, cnt = [ts], 1
        if comp is None:
            continue
        # stages after the completion step: one shared first-eligible
        # chain (every promoted branch sits at the same timestamps)
        rest = [comp]
        for j in range(rep + 2, k):
            nxt = None
            for uid2, eid, ts, et, v in evs5[rest_from + 1:]:
                if uid2 != uid:
                    continue
                if ts - rest[-1] > window_s:
                    break
                if et == steps[j] and ts > rest[-1]:
                    nxt = ts
                    break
            if nxt is None:
                rest = None
                break
            rest.append(nxt)
        if rest is None:
            continue
        for m in range(min_reps, cnt + 1):
            if comp - reps[m - 1] > window_s or comp <= reps[m - 1]:
                # this prefix branch expired before completion, or was
                # extended by the completing timestamp group itself
                # (not strictly-later) — it dies with the anchor-
                # terminal completion without emitting
                continue
            out.append((uid, aid, *cur[:rep], reps[m - 1], *rest, m))
    return sorted(out)


RELUCTANT_EVENTS = st.lists(
    st.tuples(
        st.integers(1, 2),
        st.integers(0, 120),
        st.sampled_from(["a", "b", "c"]),
    ),
    min_size=1,
    max_size=25,
)


@given(events=RELUCTANT_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_reluctant_nfa_matches_simulation_any_chunking(events, cuts):
    """a b+ c reluctant under every micro-batch split: one match per
    prefix, all completing at the first eligible c, per-branch
    windows."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c"), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    evs5 = [(u, i, t, e, 0.0) for u, i, t, e in evs]
    want = _reluctant_sim(evs5, steps, 1, window_s)
    proc = _make_processor(steps, window_s * 1_000_000, rep=1, reluctant=True)
    assert _drive_nfa_chunked(proc, evs, cuts, 3, extra_cols=("n_rep",)) == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 200),
            st.sampled_from(["a", "b", "c", "d"]),
        ),
        min_size=1,
        max_size=25,
    ),
    cuts=st.lists(st.integers(0, 24), max_size=4),
)
@SETTINGS
def test_cep_reluctant_four_step_nfa_matches_simulation(events, cuts):
    """a b+ c d reluctant: promoted prefix branches continue through
    the post-loop stage independently (same chain timestamps, distinct
    n_rep and loop slots)."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c", "d"), 100
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    evs5 = [(u, i, t, e, 0.0) for u, i, t, e in evs]
    want = _reluctant_sim(evs5, steps, 1, window_s)
    proc = _make_processor(steps, window_s * 1_000_000, rep=1, reluctant=True)
    assert _drive_nfa_chunked(proc, evs, cuts, 4, extra_cols=("n_rep",)) == want


@given(events=RELUCTANT_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_reluctant_timesormore_nfa_matches_simulation(events, cuts):
    """reluctant × timesOrMore(2) × times cap (2,3): prefixes below
    the quota never emit; the capped head stops spawning prefixes."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c"), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    evs5 = [(u, i, t, e, 0.0) for u, i, t, e in evs]
    want = _reluctant_sim(evs5, steps, 1, window_s, min_reps=2, max_reps=3)
    proc = _make_processor(
        steps,
        window_s * 1_000_000,
        rep=1,
        min_reps=2,
        max_reps=3,
        reluctant=True,
    )
    assert _drive_nfa_chunked(proc, evs, cuts, 3, extra_cols=("n_rep",)) == want


def test_cep_reluctant_goldens():
    """Pinned: (1) a three-rep run emits all three prefixes at one c,
    each holding its own last repetition; (2) an early c consumes every
    branch — later b's find nothing to extend; (3) a prefix whose
    window expired by completion time emits nothing (per-branch
    windows); (4) greedy on the same stream emits exactly the longest
    row."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    rel = _make_processor(("a", "b", "c"), w, rep=1, reluctant=True)
    greedy = _make_processor(("a", "b", "c"), w, rep=1)
    three = [
        (1, 0, 0, "a"), (1, 1, 10, "b"), (1, 2, 20, "b"),
        (1, 3, 30, "b"), (1, 4, 40, "c"),
    ]
    assert _drive_nfa_chunked(rel, three, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 10, 40, 1), (1, 0, 0, 20, 40, 2), (1, 0, 0, 30, 40, 3)
    ]
    assert _drive_nfa_chunked(greedy, three, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 30, 40, 3)
    ]
    early_c = [
        (1, 0, 0, "a"), (1, 1, 10, "b"), (1, 2, 20, "c"), (1, 3, 30, "b"),
        (1, 4, 40, "c"),
    ]
    assert _drive_nfa_chunked(rel, early_c, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 10, 20, 1)
    ]
    # b@10's branch is out of window at c@75 (65 > 60); b@50's is in
    expired_prefix = [
        (1, 0, 0, "a"), (1, 1, 10, "b"), (1, 2, 50, "b"), (1, 3, 75, "c"),
    ]
    assert _drive_nfa_chunked(
        rel, expired_prefix, [], 3, extra_cols=("n_rep",)
    ) == [(1, 0, 0, 50, 75, 2)]


def test_cep_reluctant_vs_greedy_fixture_counts(sf_dir):
    """Fixture golden (VERDICT r09 #4 'Done'): view click+ purchase
    (24 h per-stage window) over the sf0.001 events. Pinned: the
    greedy single-match count, the reluctant multi-match count, and
    the structural relations — every greedy row reappears as its
    run's longest reluctant prefix, and the reluctant count sits
    strictly between the greedy count and the sum of greedy n_rep
    (the shortfall from Σn_rep is exactly the prefixes whose
    per-branch window expired before the completing purchase)."""
    import pandas as pd

    from hello_flink_spark.streaming.cep import _make_processor

    df = pd.read_parquet(f"{sf_dir}/events.parquet")[
        ["user_id", "event_id", "ts", "event_type", "value"]
    ]
    evs5 = [
        (int(r.user_id), int(r.event_id), int(r.ts.timestamp()), r.event_type, 0.0)
        for r in df.sort_values(["ts", "event_id"]).itertuples()
    ]
    steps, window_s = ("view", "click", "purchase"), 24 * 60 * 60
    greedy = _drive_nfa_chunked_v(
        _make_processor(steps, window_s * 1_000_000, rep=1),
        evs5, [], 3, extra_cols=("n_rep",),
    )
    rel = _drive_nfa_chunked_v(
        _make_processor(steps, window_s * 1_000_000, rep=1, reluctant=True),
        evs5, [], 3, extra_cols=("n_rep",),
    )
    assert len(greedy) == 33
    assert len(rel) == 51
    assert sum(m[-1] for m in greedy) == 59
    assert len(greedy) < len(rel) <= sum(m[-1] for m in greedy)
    assert sorted(m for m in rel if m in greedy) == greedy


# ---------------------------------------------------------------------------
# Round 10: reluctant × until — [F]'s ACTUAL default pairing (oneOrMore
# is reluctant unless .greedy(); .until() is the documented companion
# for unbounded loops). The stop event freezes acceptance INTO the
# loop: no new prefixes, already-spawned prefixes still complete, a
# run awaiting its first repetition dies.
# ---------------------------------------------------------------------------


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "u"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_reluctant_until_nfa_matches_simulation_any_chunking(events, cuts):
    """a b+ c reluctant with until('u') under every micro-batch split:
    the stop must cap WHICH prefixes exist (none spawned after it) but
    never kill the already-spawned ones, and the freeze boundary must
    be chunking-invariant."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c"), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    evs5 = [(u, i, t, e, 0.0) for u, i, t, e in evs]
    want = _reluctant_sim(evs5, steps, 1, window_s, until=("u", None))
    proc = _make_processor(
        steps, window_s * 1_000_000, rep=1, reluctant=True, until=("u", None)
    )
    assert _drive_nfa_chunked(proc, evs, cuts, 3, extra_cols=("n_rep",)) == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "u"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_reluctant_until_timesormore_nfa_matches_simulation(events, cuts):
    """reluctant × until × timesOrMore(2): a head frozen below the
    quota can never complete (its prefixes are all below quota too);
    prefixes at or above the quota survive the freeze."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c"), 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    evs5 = [(u, i, t, e, 0.0) for u, i, t, e in evs]
    want = _reluctant_sim(evs5, steps, 1, window_s, min_reps=2, until=("u", None))
    proc = _make_processor(
        steps,
        window_s * 1_000_000,
        rep=1,
        min_reps=2,
        reluctant=True,
        until=("u", None),
    )
    assert _drive_nfa_chunked(proc, evs, cuts, 3, extra_cols=("n_rep",)) == want


def test_cep_reluctant_until_goldens():
    """Pinned: (1) a stop mid-run caps the prefix set — the b after u
    spawns nothing, existing prefixes complete; (2) the no-until twin
    on the same stream emits the extra longer prefix; (3) a stop
    before the first repetition kills the anchor entirely; (4) the
    until value guard is behavioral — a below-bar stop freezes
    nothing; (5) greedy × until on stream (1) emits exactly the
    longest surviving prefix."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    rel_u = _make_processor(
        ("a", "b", "c"), w, rep=1, reluctant=True, until=("u", None)
    )
    rel = _make_processor(("a", "b", "c"), w, rep=1, reluctant=True)
    greedy_u = _make_processor(("a", "b", "c"), w, rep=1, until=("u", None))
    mid = [
        (1, 0, 0, "a"), (1, 1, 10, "b"), (1, 2, 20, "b"),
        (1, 3, 30, "u"), (1, 4, 40, "b"), (1, 5, 50, "c"),
    ]
    assert _drive_nfa_chunked(rel_u, mid, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 10, 50, 1), (1, 0, 0, 20, 50, 2)
    ]
    assert _drive_nfa_chunked(rel, mid, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 10, 50, 1), (1, 0, 0, 20, 50, 2), (1, 0, 0, 40, 50, 3)
    ]
    assert _drive_nfa_chunked(greedy_u, mid, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 20, 50, 2)
    ]
    pre = [
        (1, 0, 0, "a"), (1, 1, 5, "u"), (1, 2, 10, "b"), (1, 3, 20, "c"),
    ]
    assert _drive_nfa_chunked(rel_u, pre, [], 3, extra_cols=("n_rep",)) == []
    assert _drive_nfa_chunked(rel, pre, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 10, 20, 1)
    ]
    rel_u_val = _make_processor(
        ("a", "b", "c"), w, rep=1, reluctant=True, until=("u", 5.0)
    )
    mid_v = [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "b", 0.0),
        (1, 3, 30, "u", 3.0), (1, 4, 40, "b", 0.0), (1, 5, 50, "c", 0.0),
    ]
    # u@30 value 3.0 < bar 5.0: no freeze — all three prefixes emit
    assert _drive_nfa_chunked_v(
        rel_u_val, mid_v, [], 3, extra_cols=("n_rep",)
    ) == [
        (1, 0, 0, 10, 50, 1), (1, 0, 0, 20, 50, 2), (1, 0, 0, 40, 50, 3)
    ]


# ---------------------------------------------------------------------------
# Round 10: reluctant × run_min_total — "every prefix totaling ≥ X is
# its own match". Unlike plain reluctant (one completion event takes
# every branch), branches resolve INDEPENDENTLY: a frozen prefix's
# total never changes, so it either clears the bar at the first
# next-step event after its creation or never emits; the under-total
# live head keeps extending (relaxed no-op) and may complete at a
# LATER next-step event, spawning more prefixes in between.
# ---------------------------------------------------------------------------


def _reluctant_runtotal_sim(evs5, window_s, min_reps, run_total):
    """Per-anchor model for a b+ c with reluctant=True and the Kleene
    run-aggregate guard: each branch (frozen prefix or live head) is
    judged per next-step event on BOTH gates (count >= min_reps, its
    own accumulated repetition-value sum >= run_total) within its own
    window (measured from its last repetition); clearing branches emit
    and leave, failing prefixes can never clear (their totals are
    frozen) and silently expire, the failing head keeps extending.
    Written directly against the semantics; shares no code with the
    NFA's partial list."""
    out = []
    for pos, (uid, aid, ts0, et0, v0) in enumerate(evs5):
        if et0 != "a":
            continue
        last, cnt, tot = ts0, 0, 0.0
        head_alive = True
        prefixes: list[tuple[int, int, float]] = []  # (last_rep_ts, m, tot)
        for uid2, eid, ts, et, v in evs5[pos + 1:]:
            if uid2 != uid:
                continue
            if head_alive and ts - last > window_s:
                head_alive = False  # prefixes have older last: all dead
            if not head_alive and not prefixes:
                break
            if et == "b" and head_alive and ts > last:
                if cnt > 0:
                    prefixes.append((last, cnt, tot))
                    last, cnt, tot = ts, cnt + 1, tot + v
                else:
                    last, cnt, tot = ts, 1, v
                continue
            if et == "c":
                emitted_any = False
                for p_last, p_m, p_tot in prefixes:
                    if (
                        ts > p_last
                        and ts - p_last <= window_s
                        and p_m >= min_reps
                        and p_tot >= run_total
                    ):
                        out.append((uid, aid, ts0, p_last, ts, p_m))
                        emitted_any = True
                prefixes = []  # failing prefixes never clear later
                if (
                    head_alive
                    and ts > last
                    and cnt >= min_reps
                    and tot >= run_total
                ):
                    out.append((uid, aid, ts0, last, ts, cnt))
                    head_alive = False
                    break  # head emitted; no prefixes remain
                if emitted_any:
                    # anchor-terminal completion (r10, declared with the
                    # timeout composition): once ANY branch emits, the
                    # whole anchor leaves — a head that was ineligible
                    # at this event (reachable with negative repetition
                    # values: a frozen prefix's total can exceed the
                    # head's) dies with its emitting siblings
                    head_alive = False
                    break
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
            st.integers(-2, 3),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_reluctant_run_total_nfa_matches_simulation(events, cuts):
    """reluctant × run_min_total(4) under every micro-batch split:
    per-branch frozen totals, independent branch resolution, the
    under-total head completing at a later next-step event."""
    from hello_flink_spark.streaming.cep import _make_processor

    window_s = 60
    evs = sorted(
        ((u, i, t, e, float(v)) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _reluctant_runtotal_sim(evs, window_s, 1, 4.0)
    proc = _make_processor(
        ("a", "b", "c"),
        window_s * 1_000_000,
        rep=1,
        reluctant=True,
        run_total=4.0,
    )
    assert _drive_nfa_chunked_v(proc, evs, cuts, 3, extra_cols=("n_rep",)) == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
            st.integers(-2, 3),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_reluctant_run_total_timesormore_nfa_matches_simulation(events, cuts):
    """reluctant × run_min_total × timesOrMore(2): both gates judged
    per branch."""
    from hello_flink_spark.streaming.cep import _make_processor

    window_s = 60
    evs = sorted(
        ((u, i, t, e, float(v)) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want = _reluctant_runtotal_sim(evs, window_s, 2, 4.0)
    proc = _make_processor(
        ("a", "b", "c"),
        window_s * 1_000_000,
        rep=1,
        min_reps=2,
        reluctant=True,
        run_total=4.0,
    )
    assert _drive_nfa_chunked_v(proc, evs, cuts, 3, extra_cols=("n_rep",)) == want


def test_cep_reluctant_run_total_goldens():
    """Pinned: (1) staggered resolution — the head completes at a
    LATER c than none of its prefixes cleared, having spawned more
    repetitions in between; (2) a clearing prefix and the clearing
    head emit at the same c; (3) an under-total frozen prefix never
    emits even though a later c arrives in its window."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    proc = _make_processor(
        ("a", "b", "c"), w, rep=1, reluctant=True, run_total=5.0
    )
    # (1): b@10 (3) -> c@15 fails head (3 < 5); b@20 (3) spawns the
    # 3-total prefix and lifts the head to 6; c@25 emits the head
    # (m=2), the prefix fails and expires silently.
    staggered = [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 3.0), (1, 2, 15, "c", 0.0),
        (1, 3, 20, "b", 3.0), (1, 4, 25, "c", 0.0),
    ]
    assert _drive_nfa_chunked_v(proc, staggered, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 20, 25, 2)
    ]
    # (2): both the 5-total prefix and the 8-total head clear at c@40
    both = [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 5.0), (1, 2, 20, "b", 3.0),
        (1, 3, 40, "c", 0.0),
    ]
    assert _drive_nfa_chunked_v(proc, both, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 10, 40, 1), (1, 0, 0, 20, 40, 2)
    ]
    # (3): the 2-total prefix is in-window at c@50 but never clears
    never = [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 2.0), (1, 2, 20, "b", 4.0),
        (1, 3, 50, "c", 0.0),
    ]
    assert _drive_nfa_chunked_v(proc, never, [], 3, extra_cols=("n_rep",)) == [
        (1, 0, 0, 20, 50, 2)
    ]


# ---------------------------------------------------------------------------
# Round 10: reluctant × skipPastLastEvent — all of an anchor's prefix
# branches complete at ONE event, so the skip's "earliest anchor wins,
# completing event consumed, state cleared" rule lifts unchanged: the
# winning anchor emits EVERY prefix, losers are discarded.
# ---------------------------------------------------------------------------


def _reluctant_skip_sim(evs5, window_s, min_reps=1):
    """Per-key sequential model of a b+ c with reluctant=True and
    skipPastLastEvent: anchors accumulate runs (each extension spawns
    a frozen prefix); at a next-step event the earliest anchor holding
    ANY eligible branch (strictly-later, per-branch window, quota)
    emits all its eligible prefixes, the key's whole partial state is
    cleared, and the completing event is consumed. Shares no code with
    the NFA."""
    out = []
    for uid in sorted({e[0] for e in evs5}):
        evs = [e for e in evs5 if e[0] == uid]
        anchors: list[dict] = []
        for _, eid, ts, et, v in evs:
            if et == "b":
                for a in anchors:
                    if ts <= a["last"] or ts - a["last"] > window_s:
                        continue
                    if a["cnt"] > 0:
                        a["prefixes"].append((a["last"], a["cnt"]))
                    a["last"], a["cnt"] = ts, a["cnt"] + 1
            elif et == "c":
                cands = []
                for a in anchors:
                    branches = a["prefixes"] + (
                        [(a["last"], a["cnt"])] if a["cnt"] > 0 else []
                    )
                    elig = [
                        (bl, bm)
                        for bl, bm in branches
                        if ts > bl and ts - bl <= window_s and bm >= min_reps
                    ]
                    if elig:
                        cands.append((a["ts0"], a["aid"], elig))
                if cands:
                    ts0, aid, elig = min(cands, key=lambda x: (x[0], x[1]))
                    for bl, bm in sorted(elig):
                        out.append((uid, aid, ts0, bl, ts, bm))
                    anchors = []
            elif et == "a":
                anchors.append(
                    {"aid": eid, "ts0": ts, "last": ts, "cnt": 0, "prefixes": []}
                )
    return sorted(out)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_reluctant_skip_past_last_nfa_matches_simulation(events, cuts):
    """reluctant × skipPastLastEvent under every micro-batch split:
    the earliest anchor emits all its prefixes, everything else dies,
    the completing event anchors nothing."""
    from hello_flink_spark.streaming.cep import _make_processor

    window_s = 60
    evs = sorted(
        ((u, i, t, e) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    evs5 = [(u, i, t, e, 0.0) for u, i, t, e in evs]
    want = _reluctant_skip_sim(evs5, window_s)
    proc = _make_processor(
        ("a", "b", "c"),
        window_s * 1_000_000,
        rep=1,
        reluctant=True,
        skip_past_last=True,
    )
    assert _drive_nfa_chunked(proc, evs, cuts, 3, extra_cols=("n_rep",)) == want


def test_cep_reluctant_skip_past_last_goldens():
    """Pinned: (1) the earlier anchor's THREE prefixes all emit at one
    c and the later anchor dies with them; (2) after the skip, a fresh
    anchor+run match emits normally; (3) greedy × skipPastLast on the
    same stream emits exactly the longest-prefix rows (the reluctant
    set contains it)."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    rel = _make_processor(
        ("a", "b", "c"), w, rep=1, reluctant=True, skip_past_last=True
    )
    greedy = _make_processor(("a", "b", "c"), w, rep=1, skip_past_last=True)
    evs = [
        (1, 0, 0, "a"), (1, 1, 5, "a"), (1, 2, 10, "b"), (1, 3, 20, "b"),
        (1, 4, 30, "b"), (1, 5, 40, "c"),
        (1, 6, 50, "a"), (1, 7, 60, "b"), (1, 8, 70, "c"),
    ]
    got = _drive_nfa_chunked(rel, evs, [], 3, extra_cols=("n_rep",))
    assert got == [
        (1, 0, 0, 10, 40, 1), (1, 0, 0, 20, 40, 2), (1, 0, 0, 30, 40, 3),
        (1, 6, 50, 60, 70, 1),
    ]
    got_g = _drive_nfa_chunked(greedy, evs, [], 3, extra_cols=("n_rep",))
    assert got_g == [(1, 0, 0, 30, 40, 3), (1, 6, 50, 60, 70, 1)]
    assert set(got_g) <= set(got)


# ---------------------------------------------------------------------------
# Round 10: reluctant × timeout side-output. The timeout contract stays
# per-ANCHOR: prefix branches expire silently while the anchor lives
# (the head outlives every prefix — its last-accepted ts is the max);
# only the last surviving branch's expiry emits ONE matched=false row
# carrying the maximal-progress branch; completion is anchor-terminal,
# so a matched anchor never later times out.
# ---------------------------------------------------------------------------


def _reluctant_timeout_sim(evs5, window_s, min_reps=1, run_total=None):
    """(matched, timeouts) for a b+ c reluctant with the timeout
    side-output. Matched rows delegate to the pinned emission models;
    timeout rows are rebuilt independently: one row per anchor with NO
    matched rows, carrying the head's final state — (ts0, last_rep,
    None, cnt), last_rep None while still awaiting the first
    repetition. Written directly against the per-anchor contract;
    shares no code with the NFA."""
    if run_total is None:
        matched = _reluctant_sim(
            evs5, ("a", "b", "c"), 1, window_s, min_reps=min_reps
        )
    else:
        matched = _reluctant_runtotal_sim(evs5, window_s, min_reps, run_total)
    matched_anchors = {(m[0], m[1]) for m in matched}
    timeouts = []
    for pos, (uid, aid, ts0, et0, v0) in enumerate(evs5):
        if et0 != "a" or (uid, aid) in matched_anchors:
            continue
        last, cnt = ts0, 0
        for uid2, eid, ts, et, v in evs5[pos + 1:]:
            if uid2 != uid:
                continue
            if ts - last > window_s:
                break  # head dead; its state at expiry is the row
            if et == "b" and ts > last:
                last, cnt = ts, cnt + 1
        timeouts.append(
            (uid, aid, ts0, last if cnt else None, None, cnt)
        )
    skey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    return sorted(matched), sorted(timeouts, key=skey)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=25,
    ),
    cuts=st.lists(st.integers(0, 24), max_size=4),
)
@SETTINGS
def test_cep_reluctant_timeouts_nfa_matches_simulation(events, cuts):
    """reluctant × timeout under every micro-batch split: every
    never-matching anchor emits exactly one matched=false row with the
    head's state; matching anchors (all prefixes) emit none."""
    from hello_flink_spark.streaming.cep import _make_processor

    window_s = 60
    evs5 = sorted(
        ((u, i, t, e, 0.0) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _reluctant_timeout_sim(evs5, window_s)
    proc = _make_processor(
        ("a", "b", "c"),
        window_s * 1_000_000,
        emit_timeouts=True,
        rep=1,
        reluctant=True,
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 3, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c"]),
            st.integers(-2, 3),
        ),
        min_size=1,
        max_size=25,
    ),
    cuts=st.lists(st.integers(0, 24), max_size=4),
)
@SETTINGS
def test_cep_reluctant_run_total_timeouts_nfa_matches_simulation(events, cuts):
    """reluctant × run_min_total × timeout (triple, incl. negative
    repetition values): staggered branch resolution composes with the
    per-anchor timeout contract."""
    from hello_flink_spark.streaming.cep import _make_processor

    window_s = 60
    evs5 = sorted(
        ((u, i, t, e, float(v)) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _reluctant_timeout_sim(evs5, window_s, run_total=4.0)
    proc = _make_processor(
        ("a", "b", "c"),
        window_s * 1_000_000,
        emit_timeouts=True,
        rep=1,
        reluctant=True,
        run_total=4.0,
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 3, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


def test_cep_reluctant_timeout_goldens():
    """Pinned: (1) a run with repetitions but no c emits ONE timeout
    row with the head's count (prefixes silent); (2) a matching anchor
    with a lingering under-quota prefix emits NO timeout row
    (timesOrMore(2): the cnt=1 prefix could never complete); (3) an
    anchor still awaiting its first repetition times out with
    last_rep=None; (4) a reluctant × until frozen head times out as a
    genuine timeout; (5) the staggered run_total head that matches
    LATER emits no timeout despite its earlier failing c."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000

    def run(proc, evs5):
        return _drive_nfa_rows_t(proc, evs5, [], 3, flush_ts=10_000)

    rel_t = _make_processor(
        ("a", "b", "c"), w, emit_timeouts=True, rep=1, reluctant=True
    )
    # (1) two repetitions, no c in window
    m, t = run(rel_t, [(1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "b", 0.0)])
    assert m == [] and t == [(1, 0, 0, 20, None, 2)]
    # (3) anchor alone
    m, t = run(rel_t, [(1, 0, 0, "a", 0.0)])
    assert m == [] and t == [(1, 0, 0, None, None, 0)]

    # (2) timesOrMore(2): b b c — head (cnt 2) + eligible prefix? the
    # cnt=1 prefix is under quota and dies with the anchor-terminal
    # completion; NO timeout row survives the match
    rel_q = _make_processor(
        ("a", "b", "c"), w, emit_timeouts=True, rep=1, min_reps=2,
        reluctant=True,
    )
    m, t = run(
        rel_q,
        [(1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "b", 0.0),
         (1, 3, 30, "c", 0.0)],
    )
    assert m == [(1, 0, 0, 20, 30, 2)] and t == []

    # (4) until freezes the head before any c; the frozen run times out
    rel_u = _make_processor(
        ("a", "b", "c"), w, emit_timeouts=True, rep=1, reluctant=True,
        until=("x", None),
    )
    m, t = run(
        rel_u,
        [(1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "x", 0.0)],
    )
    assert m == [] and t == [(1, 0, 0, 10, None, 1)]

    # (5) staggered run_total: c@15 fails (3 < 5), head completes at
    # c@25 — matched only, no timeout
    rel_rt = _make_processor(
        ("a", "b", "c"), w, emit_timeouts=True, rep=1, reluctant=True,
        run_total=5.0,
    )
    m, t = run(
        rel_rt,
        [(1, 0, 0, "a", 0.0), (1, 1, 10, "b", 3.0), (1, 2, 15, "c", 0.0),
         (1, 3, 20, "b", 3.0), (1, 4, 25, "c", 0.0)],
    )
    assert m == [(1, 0, 0, 20, 25, 2)] and t == []


# ---------------------------------------------------------------------------
# Round 10: AfterMatchSkip strategies × timeout side-output. Skip-killed
# partials (boundary kills, the past-last clear-all, to_next same-anchor
# kills) are DISCARDS — no row; only window expiry produces
# matched=false rows, and expiry is judged at group start, before any
# kill the same group's completion could cause.
# ---------------------------------------------------------------------------


def _skip_timeout_sim(evs5, window_s, mode, j=None):
    """(matched, timeouts) for a b c with an AfterMatchSkip strategy
    and the timeout side-output: sequential per-key fold written
    directly against the strategy definitions. Expiry sweeps run at
    each new timestamp BEFORE the event is processed (the NFA's
    group-start order), so a partial expiring in the very group whose
    completion would kill it still times out. Shares no code with the
    NFA."""
    out_m, out_t = [], []
    for uid in sorted({e[0] for e in evs5}):
        evs = [e for e in evs5 if e[0] == uid] + [(uid, -1, 10_000, "zz", 0.0)]
        partials: list[tuple[int, list[int]]] = []  # (aid, [ts...])
        for _, eid, ts, et, v in evs:
            alive = []
            for aid, tss in partials:
                if ts - tss[-1] > window_s:
                    out_t.append(
                        (uid, aid, tss[0], tss[1] if len(tss) > 1 else None, None)
                    )
                else:
                    alive.append((aid, tss))
            partials = alive
            if et == "c":
                completed = [
                    (aid, tss) for aid, tss in partials
                    if len(tss) == 2 and ts > tss[-1]
                ]
                partials = [p for p in partials if p not in completed]
                if completed:
                    completed.sort(key=lambda p: (p[1][0], p[0]))
                    if mode == "past_last":
                        aid, tss = completed[0]
                        out_m.append((uid, aid, *tss, ts))
                        partials = []
                        continue
                    if mode == "to_next":
                        for aid, tss in completed:
                            out_m.append((uid, aid, *tss, ts))
                        done = {aid for aid, _ in completed}
                        partials = [p for p in partials if p[0] not in done]
                    else:
                        bound = None
                        for aid, tss in completed:
                            full = tss + [ts]
                            if bound is not None and tss[0] < bound:
                                continue
                            out_m.append((uid, aid, *full))
                            b = full[j]
                            bound = b if bound is None else max(bound, b)
                        if bound is not None:
                            partials = [p for p in partials if p[1][0] >= bound]
            elif et == "b":
                partials = [
                    (aid, tss + [ts]) if len(tss) == 1 and ts > tss[0] else (aid, tss)
                    for aid, tss in partials
                ]
            elif et == "a":
                partials.append((eid, [ts]))
    skey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    return sorted(out_m), sorted(out_t, key=skey)


def _drive_nfa_rows_t_plain(proc, evs5, cuts, k, flush_ts):
    """_drive_nfa_rows_t for patterns WITHOUT a Kleene/group stage
    (no n_rep output column)."""
    import pandas as pd

    users = sorted({u for u, _, _, _, _ in evs5})
    evs5 = list(evs5) + [
        (u, 10_000 + i, flush_ts, "zz", 0.0) for i, u in enumerate(users)
    ]
    rows = pd.DataFrame(
        {
            "user_id": [u for u, _, _, _, _ in evs5],
            "event_id": [i for _, i, _, _, _ in evs5],
            "ts": [pd.Timestamp(t, unit="s") for _, _, t, _, _ in evs5],
            "event_type": [e for _, _, _, e, _ in evs5],
            "value": [float(v) for _, _, _, _, v in evs5],
        }
    )
    bounds = sorted({c for c in cuts if c < len(evs5)} | {0, len(evs5)})
    chunks = [rows.iloc[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    got_m, got_t = [], []
    for uid in users:
        for out in _fold_nfa(proc, uid, [c[c["user_id"] == uid] for c in chunks]):
            for r in out.itertuples():
                tup = (
                    r.user_id,
                    r.anchor_id,
                    *(
                        None
                        if pd.isna(getattr(r, f"ts{i + 1}"))
                        else int(getattr(r, f"ts{i + 1}").timestamp())
                        for i in range(k)
                    ),
                )
                (got_m if r.matched else got_t).append(tup)
    skey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    return sorted(got_m), sorted(got_t, key=skey)


def _run_skip_timeout(events, cuts, mode, j=None):
    from hello_flink_spark.streaming.cep import _make_processor

    window_s = 60
    evs5 = sorted(
        ((u, i, t, e, 0.0) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _skip_timeout_sim(evs5, window_s, mode, j=j)
    # the sim's matched rows have no trailing ts3 slot mismatch: both
    # sides are (uid, aid, ts1, ts2, ts3)
    proc = _make_processor(
        ("a", "b", "c"),
        window_s * 1_000_000,
        emit_timeouts=True,
        skip_past_last=(mode == "past_last"),
        skip_to=None if mode == "past_last" else (mode, j),
    )
    got_m, got_t = _drive_nfa_rows_t_plain(proc, evs5, cuts, 3, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_past_last_timeouts_matches_simulation(events, cuts):
    """skipPastLastEvent × timeout: the clear-all kill is a discard —
    a partial it removes emits no timeout row; one expiring in the
    same group still does."""
    _run_skip_timeout(events, cuts, "past_last")


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_next_timeouts_matches_simulation(events, cuts):
    """skipToNext × timeout under every chunking."""
    _run_skip_timeout(events, cuts, "to_next")


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_first_timeouts_matches_simulation(events, cuts):
    """skipToFirst[anchor] × timeout: ties at the boundary survive,
    boundary-killed partials emit nothing."""
    _run_skip_timeout(events, cuts, "to_first", j=0)


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_skip_to_last_timeouts_matches_simulation(events, cuts):
    """skipToLast[middle] × timeout: the advancing boundary kills
    still-armed partials silently."""
    _run_skip_timeout(events, cuts, "to_last", j=1)


def test_cep_skip_timeout_goldens():
    """Pinned: (1) skipPastLast's clear-all at c@30 discards the armed
    a@25 anchor — NO timeout row for it ever; (2) a partial that
    EXPIRES at the same group whose completion would kill it still
    emits its timeout row (expiry is judged at group start); (3)
    to_last's boundary kill discards the a@15 anchor silently while an
    unkilled anchor times out normally."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000

    # (1) a@0 b@10 a@25 c@30: match (0,10,30); a@25 cleared, no timeout
    proc = _make_processor(
        ("a", "b", "c"), w, emit_timeouts=True, skip_past_last=True
    )
    m, t = _drive_nfa_rows_t_plain(
        proc,
        [(1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 25, "a", 0.0),
         (1, 3, 30, "c", 0.0)],
        [], 3, flush_ts=10_000,
    )
    assert m == [(1, 0, 0, 10, 30)] and t == []

    # (2) a@0 (expires at 61); a@62 b@70 c@80 completes and clears —
    # but a@0's timeout already fired at the 62 group start
    m, t = _drive_nfa_rows_t_plain(
        proc,
        [(1, 0, 0, "a", 0.0), (1, 1, 62, "a", 0.0), (1, 2, 70, "b", 0.0),
         (1, 3, 80, "c", 0.0)],
        [], 3, flush_ts=10_000,
    )
    assert m == [(1, 1, 62, 70, 80)] and t == [(1, 0, 0, None, None)]

    # (3) to_last[b]: a@0 b@20 a@15 c@30 — match (0,20,30), bound=20
    # kills a@15 (anchored before 20) silently; a@100 expires alone
    proc = _make_processor(
        ("a", "b", "c"), w, emit_timeouts=True, skip_to=("to_last", 1)
    )
    m, t = _drive_nfa_rows_t_plain(
        proc,
        [(1, 0, 0, "a", 0.0), (1, 2, 15, "a", 0.0), (1, 1, 20, "b", 0.0),
         (1, 3, 30, "c", 0.0), (1, 4, 100, "a", 0.0)],
        [], 3, flush_ts=10_000,
    )
    assert m == [(1, 0, 0, 20, 30)]
    assert t == [(1, 4, 100, None, None)]


# ---------------------------------------------------------------------------
# Round 10: reluctant × after_match_skip (to_next / to_first / to_last),
# run with the timeout side-output on — the full triple. Completions
# are a branch fan-out judged in (anchor_ts, anchor_id, branch) order;
# to_next keeps the SHORTEST prefix per anchor (Flink's documented b+
# SKIP_TO_NEXT enumeration: b1, b2, b3); to_first/to_last run the
# established per-branch boundary fold with anchor-terminal completion
# applied on top. Skip kills are discards; only window expiry of an
# anchor's last branch emits its one matched=false row.
# ---------------------------------------------------------------------------


def _reluctant_skipto_sim(evs5, window_s, mode, j=None, min_reps=1):
    """(matched, timeouts) for a b+ c reluctant with an after-match
    skip strategy and the timeout side-output. Sequential per-key
    fold written directly against the declared contract; shares no
    code with the NFA."""
    out_m, out_t = [], []
    for uid in sorted({e[0] for e in evs5}):
        evs = [e for e in evs5 if e[0] == uid] + [(uid, -1, 10_000, "zz", 0.0)]
        # anchor: [aid, ts0, last, cnt, prefixes [(last, m)], head_alive]
        anchors: list[list] = []
        for _, eid, ts, et, v in evs:
            # group-start expiry: a dead head is the anchor's last
            # branch (prefixes expire earlier) — one timeout row
            survivors = []
            for a in anchors:
                if ts - a[2] > window_s:
                    out_t.append(
                        (uid, a[0], a[1], a[2] if a[3] else None, None, a[3])
                    )
                else:
                    survivors.append(a)
            anchors = survivors
            if et == "b":
                for a in anchors:
                    if ts > a[2]:
                        if a[3] > 0:
                            a[4].append((a[2], a[3]))
                        a[2], a[3] = ts, a[3] + 1
            elif et == "c":
                cands = []
                for a in anchors:
                    branches = a[4] + [(a[2], a[3])] if a[3] > 0 else []
                    elig = [
                        (bl, bm)
                        for bl, bm in branches
                        if ts > bl and ts - bl <= window_s and bm >= min_reps
                    ]
                    # judged-and-failed prefixes can never clear later
                    a[4] = []
                    for bl, bm in sorted(elig):
                        cands.append((a[1], a[0], bl, bm))
                cands.sort()
                killed: set[int] = set()
                if mode == "to_next":
                    emitted: set[int] = set()
                    for ts0, aid, bl, bm in cands:
                        if aid not in emitted:
                            out_m.append((uid, aid, ts0, bl, ts, bm))
                            emitted.add(aid)
                    killed = emitted
                else:
                    bound = None
                    emitted = set()
                    for ts0, aid, bl, bm in cands:
                        if bound is not None and ts0 < bound:
                            continue
                        out_m.append((uid, aid, ts0, bl, ts, bm))
                        emitted.add(aid)
                        b = {0: ts0, 1: bl, 2: ts}[j]
                        bound = b if bound is None else max(bound, b)
                    killed = set(emitted)
                    if bound is not None:
                        killed |= {a[0] for a in anchors if a[1] < bound}
                anchors = [a for a in anchors if a[0] not in killed]
            elif et == "a":
                anchors.append([eid, ts, ts, 0, []])
    skey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    return sorted(out_m), sorted(out_t, key=skey)


def _run_reluctant_skipto(events, cuts, mode, j=None, min_reps=1):
    from hello_flink_spark.streaming.cep import _make_processor

    window_s = 60
    evs5 = sorted(
        ((u, i, t, e, 0.0) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _reluctant_skipto_sim(
        evs5, window_s, mode, j=j, min_reps=min_reps
    )
    proc = _make_processor(
        ("a", "b", "c"),
        window_s * 1_000_000,
        emit_timeouts=True,
        rep=1,
        min_reps=min_reps,
        reluctant=True,
        skip_to=(mode, j),
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 3, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_reluctant_skip_to_next_timeouts_matches_simulation(events, cuts):
    """reluctant × skipToNext × timeout: the shortest prefix emits per
    anchor, the anchor leaves whole, discards never time out."""
    _run_reluctant_skipto(events, cuts, "to_next")


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_reluctant_skip_to_first_timeouts_matches_simulation(events, cuts):
    """reluctant × skipToFirst[anchor] × timeout: every branch emits
    (ties survive the boundary) but the matched anchor leaves whole."""
    _run_reluctant_skipto(events, cuts, "to_first", j=0)


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_reluctant_skip_to_last_timeouts_matches_simulation(events, cuts):
    """reluctant × skipToLast[loop] × timeout: the shortest prefix's
    loop timestamp becomes the boundary and kills later-anchored
    partials silently."""
    _run_reluctant_skipto(events, cuts, "to_last", j=1)


@given(events=SKIP_EVENTS, cuts=st.lists(st.integers(0, 24), max_size=4))
@SETTINGS
def test_cep_reluctant_skip_to_next_quota_timeouts_matches_simulation(events, cuts):
    """the quadruple: reluctant × timesOrMore(2) × skipToNext ×
    timeout."""
    _run_reluctant_skipto(events, cuts, "to_next", min_reps=2)


def test_cep_reluctant_skipto_goldens():
    """Pinned: (1) to_next emits ONLY the shortest prefix (b1) of the
    three-branch anchor and the anchor leaves whole — vs no-skip's
    three rows; (2) to_last[loop] boundary (=10, the emitted branch's
    loop ts) kills the a@5 anchor silently — no timeout row for it;
    (3) to_first[anchor] emits all three branches, same rows as
    no-skip at this event."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    evs = [
        (1, 0, 0, "a", 0.0), (1, 1, 5, "a", 0.0), (1, 2, 10, "b", 0.0),
        (1, 3, 20, "b", 0.0), (1, 4, 30, "b", 0.0), (1, 5, 40, "c", 0.0),
    ]

    def run(mode, j):
        proc = _make_processor(
            ("a", "b", "c"), w, emit_timeouts=True, rep=1, reluctant=True,
            skip_to=(mode, j),
        )
        return _drive_nfa_rows_t(proc, evs, [], 3, flush_ts=10_000)

    m, t = run("to_next", None)
    # to_next is per-anchor: BOTH anchors emit their shortest prefix
    # (Flink's b+ SKIP_TO_NEXT enumeration), each anchor leaves whole
    assert m == [(1, 0, 0, 10, 40, 1), (1, 1, 5, 10, 40, 1)]
    assert t == []

    m, t = run("to_last", 1)
    assert m == [(1, 0, 0, 10, 40, 1)]
    # bound=10 kills a@5 (anchored before 10): killed, not timed out
    assert t == []

    m, t = run("to_first", 0)
    # bound=0 (anchor 0's own ts): a@5's branches sort after anchor
    # 0's, survive the tie-friendly boundary (5 >= 0), and emit too —
    # to_first[anchor] is the degenerate keep-everything strategy
    assert m == [
        (1, 0, 0, 10, 40, 1), (1, 0, 0, 20, 40, 2), (1, 0, 0, 30, 40, 3),
        (1, 1, 5, 10, 40, 1), (1, 1, 5, 20, 40, 2), (1, 1, 5, 30, 40, 3),
    ]
    assert t == []


# ---------------------------------------------------------------------------
# Round 10: group_reps × skipPastLastEvent, run with the timeout
# side-output on (the full triple). Group completions land in the same
# completed list as plain ones, so the earliest-anchor-wins/clear-
# state/consume fold lifts unchanged; skip-killed group partials are
# discards (never timeout rows), window-expired ones still emit their
# stage prefix with the completed-repetition count.
# ---------------------------------------------------------------------------


def _group_skip_timeout_sim(evs5, steps, gi, gj, window_s, mode="past_last", j=None):
    """(matched, timeouts) for a (b c)+ d with an AfterMatchSkip
    strategy and the timeout side-output: sequential per-key fold
    written directly against the semantics (per-stage window from the
    last accepted event, boundary restart discarding the group slots;
    past_last = earliest anchor wins + clear-all + consume; to_next =
    one match per anchor, not consumed; to_first/to_last = per-match
    boundary fold over (anchor_ts, anchor_id) order, boundary kills
    are discards). Shares no code with the NFA."""
    k = len(steps)
    out_m, out_t = [], []
    for uid in sorted({e[0] for e in evs5}):
        evs = [e for e in evs5 if e[0] == uid] + [(uid, -1, 10_000, "zz", 0.0)]
        partials: list[list] = []  # [aid, tss, cnt]
        for _, eid, ts, et, v in evs:
            alive = []
            for aid, tss, cnt in partials:
                if ts - tss[-1] > window_s:
                    out_t.append(
                        (uid, aid, *(tss + [None] * (k - len(tss))), cnt)
                    )
                else:
                    alive.append([aid, tss, cnt])
            partials = alive
            completed = []
            nxt = []
            for aid, tss, cnt in partials:
                stage = len(tss)
                if stage == gj + 1 and et == steps[gi] and ts > tss[-1]:
                    nxt.append([aid, tss[:gi] + [ts], cnt])
                elif stage < k and et == steps[stage] and ts > tss[-1]:
                    ntss = tss + [ts]
                    ncnt = cnt + (1 if stage == gj else 0)
                    if len(ntss) == k:
                        completed.append((aid, ntss, ncnt))
                    else:
                        nxt.append([aid, ntss, ncnt])
                else:
                    nxt.append([aid, tss, cnt])
            partials = nxt
            if completed:
                if mode == "past_last":
                    aid, tss, cnt = min(
                        completed, key=lambda c: (c[1][0], c[0])
                    )
                    out_m.append((uid, aid, *tss, cnt))
                    partials = []
                    continue  # completing event consumed: anchors nothing
                completed.sort(key=lambda c: (c[1][0], c[0]))
                if mode == "to_next":
                    emitted = set()
                    for aid, tss, cnt in completed:
                        if aid not in emitted:
                            out_m.append((uid, aid, *tss, cnt))
                            emitted.add(aid)
                    partials = [p for p in partials if p[0] not in emitted]
                else:
                    bound = None
                    for aid, tss, cnt in completed:
                        if bound is not None and tss[0] < bound:
                            continue
                        out_m.append((uid, aid, *tss, cnt))
                        b = tss[j]
                        bound = b if bound is None else max(bound, b)
                    if bound is not None:
                        partials = [p for p in partials if p[1][0] >= bound]
            if et == steps[0]:
                partials.append([eid, [ts], 0])
    skey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    return sorted(out_m), sorted(out_t, key=skey)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "d"]),
        ),
        min_size=1,
        max_size=28,
    ),
    cuts=st.lists(st.integers(0, 27), max_size=4),
)
@SETTINGS
def test_cep_group_skip_past_last_timeouts_matches_simulation(events, cuts):
    """group_reps × skipPastLastEvent × timeout under every
    micro-batch split: earliest anchor wins, clear-all kills are
    discards, expired group partials emit their stage prefix."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c", "d"), 60
    evs5 = sorted(
        ((u, i, t, e, 0.0) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _group_skip_timeout_sim(evs5, steps, 1, 2, window_s)
    proc = _make_processor(
        steps,
        window_s * 1_000_000,
        emit_timeouts=True,
        grp=(1, 2),
        skip_past_last=True,
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 4, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


def test_cep_group_skip_past_last_goldens():
    """Pinned: (1) two overlapping group anchors complete at one d —
    the earlier wins, the later is cleared WITHOUT a timeout row; (2)
    after the skip, a fresh anchor matches normally; (3) an expired
    group partial still emits its stage prefix (partially refilled
    repetition) alongside an unrelated winning match."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    proc = _make_processor(
        ("a", "b", "c", "d"), w, emit_timeouts=True, grp=(1, 2),
        skip_past_last=True,
    )
    # (1)+(2): a@0 a@5 b@10 c@20 d@30 -> anchor 0 wins (both partials
    # at stage 3 complete); anchor 5 cleared silently; then a fresh
    # a@40 b@45 c@50 d@55 matches
    evs = [
        (1, 0, 0, "a", 0.0), (1, 1, 5, "a", 0.0), (1, 2, 10, "b", 0.0),
        (1, 3, 20, "c", 0.0), (1, 4, 30, "d", 0.0),
        (1, 5, 40, "a", 0.0), (1, 6, 45, "b", 0.0), (1, 7, 50, "c", 0.0),
        (1, 8, 55, "d", 0.0),
    ]
    m, t = _drive_nfa_rows_t(proc, evs, [], 4, flush_ts=10_000)
    assert m == [(1, 0, 0, 10, 20, 30, 1), (1, 5, 40, 45, 50, 55, 1)]
    assert t == []

    # (3): anchor 0's partial refills b@70 after a completed (b, c)
    # repetition, never sees d, expires with the refilled slot; a
    # separate anchor a@100 matches and clears nothing else
    evs = [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "c", 0.0),
        (1, 3, 70, "b", 0.0),
        (1, 4, 200, "a", 0.0), (1, 5, 210, "b", 0.0), (1, 6, 220, "c", 0.0),
        (1, 7, 230, "d", 0.0),
    ]
    m, t = _drive_nfa_rows_t(proc, evs, [], 4, flush_ts=10_000)
    assert m == [(1, 4, 200, 210, 220, 230, 1)]
    assert t == [(1, 0, 0, 70, None, None, 1)]


def _run_group_skipto(events, cuts, mode, j=None):
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c", "d"), 60
    evs5 = sorted(
        ((u, i, t, e, 0.0) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _group_skip_timeout_sim(
        evs5, steps, 1, 2, window_s, mode=mode, j=j
    )
    proc = _make_processor(
        steps,
        window_s * 1_000_000,
        emit_timeouts=True,
        grp=(1, 2),
        skip_to=(mode, j),
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 4, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


GROUP_SKIP_EVENTS = st.lists(
    st.tuples(
        st.integers(1, 2),
        st.integers(0, 120),
        st.sampled_from(["a", "b", "c", "d", "x"]),
    ),
    min_size=1,
    max_size=28,
)


@given(events=GROUP_SKIP_EVENTS, cuts=st.lists(st.integers(0, 27), max_size=4))
@SETTINGS
def test_cep_group_skip_to_next_timeouts_matches_simulation(events, cuts):
    """group_reps × skipToNext × timeout under every chunking."""
    _run_group_skipto(events, cuts, "to_next")


@given(events=GROUP_SKIP_EVENTS, cuts=st.lists(st.integers(0, 27), max_size=4))
@SETTINGS
def test_cep_group_skip_to_first_timeouts_matches_simulation(events, cuts):
    """group_reps × skipToFirst[anchor] × timeout: ties survive the
    boundary; in-group references are rejected (slots slide)."""
    _run_group_skipto(events, cuts, "to_first", j=0)


@given(events=GROUP_SKIP_EVENTS, cuts=st.lists(st.integers(0, 27), max_size=4))
@SETTINGS
def test_cep_group_skip_to_last_timeouts_matches_simulation(events, cuts):
    """group_reps × skipToLast[in-group step] × timeout: the boundary
    is the LAST repetition's slot (the retained one)."""
    _run_group_skipto(events, cuts, "to_last", j=2)


def test_cep_group_skipto_validation_and_goldens():
    """to_first referencing an in-group slot is rejected (restarts
    slide the slots — use to_last); to_last[c] golden: the winning
    match's last-repetition c sets the boundary that kills the
    later-anchored partial silently."""
    import pytest as _pytest

    from hello_flink_spark.streaming.cep import CepPattern, _make_processor

    with _pytest.raises(ValueError, match="in-group"):
        CepPattern(
            steps=("a", "b", "c", "d"),
            within_minutes=1,
            group_reps=(1, 2),
            after_match_skip=("to_first", 1),
        )
    ok = CepPattern(
        steps=("a", "b", "c", "d"),
        within_minutes=1,
        group_reps=(1, 2),
        after_match_skip=("to_last", 2),
    )
    assert ok.after_match_skip == ("to_last", 2)

    w = 60 * 1_000_000
    proc = _make_processor(
        ("a", "b", "c", "d"), w, emit_timeouts=True, grp=(1, 2),
        skip_to=("to_last", 2),
    )
    # a@0 (b@10 c@20)(b@25 c@28) d@30 wins with boundary = 28 (LAST
    # repetition's c); a@15 (armed, same b/c events) is anchored
    # before 28 -> boundary-killed silently, never a timeout row
    evs = [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 15, "a", 0.0),
        (1, 3, 20, "c", 0.0), (1, 4, 25, "b", 0.0), (1, 5, 28, "c", 0.0),
        (1, 6, 30, "d", 0.0),
    ]
    m, t = _drive_nfa_rows_t(proc, evs, [], 4, flush_ts=10_000)
    assert m == [(1, 0, 0, 25, 28, 30, 2)]
    assert t == []


# ---------------------------------------------------------------------------
# Round 10: group_reps × until ([F] GroupPattern.oneOrMore().until) —
# the stop event freezes acceptance INTO the group's looping state (no
# boundary restart, no in-group promotion; a frozen mid-repetition
# partial can never refill and expires as a genuine timeout);
# completion OUT of a finished repetition stays allowed. Run with the
# timeout side-output on.
# ---------------------------------------------------------------------------


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "d", "x"]),
        ),
        min_size=1,
        max_size=28,
    ),
    cuts=st.lists(st.integers(0, 27), max_size=4),
)
@SETTINGS
def test_cep_group_until_timeouts_matches_simulation(events, cuts):
    """group_reps × until × timeout under every micro-batch split."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c", "d"), 60
    evs5 = sorted(
        ((u, i, t, e, 0.0) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _group_full_sim(
        evs5, steps, 1, 2, window_s, until=("x", None)
    )
    proc = _make_processor(
        steps,
        window_s * 1_000_000,
        emit_timeouts=True,
        grp=(1, 2),
        until=("x", None),
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 4, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


def test_cep_group_until_goldens():
    """Pinned: (1) a stop after a COMPLETED repetition freezes the
    restart but the partial still completes via d; (2) a stop
    mid-repetition kills the refill — the partial expires as a genuine
    timeout holding the refilled prefix; (3) a stop before the first
    repetition makes the anchor a dead man walking (timeout with
    n_rep 0); (4) an until_min_value-failing stop is a no-op; (5) the
    one-event ambiguity validations reject stop types shared with the
    span or the post-group step."""
    import pytest as _pytest

    from hello_flink_spark.streaming.cep import CepPattern, _make_processor

    w = 60 * 1_000_000
    proc = _make_processor(
        ("a", "b", "c", "d"), w, emit_timeouts=True, grp=(1, 2),
        until=("x", None),
    )

    def run(evs):
        return _drive_nfa_rows_t(proc, evs, [], 4, flush_ts=10_000)

    # (1) a b c x b(ignored restart) d -> completes with cnt 1
    m, t = run([
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "c", 0.0),
        (1, 3, 25, "x", 0.0), (1, 4, 30, "b", 0.0), (1, 5, 40, "d", 0.0),
    ])
    assert m == [(1, 0, 0, 10, 20, 40, 1)] and t == []

    # (2) a b x c(refused) -> frozen mid-repetition, times out with the
    # partial (a, b) prefix and n_rep 0
    m, t = run([
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 15, "x", 0.0),
        (1, 3, 20, "c", 0.0),
    ])
    assert m == [] and t == [(1, 0, 0, 10, None, None, 0)]

    # (3) a x b(refused) c -> timeout with just the anchor
    m, t = run([
        (1, 0, 0, "a", 0.0), (1, 1, 5, "x", 0.0), (1, 2, 10, "b", 0.0),
        (1, 3, 20, "c", 0.0),
    ])
    assert m == [] and t == [(1, 0, 0, None, None, None, 0)]

    # (4) value-guarded stop: x below the bar is a no-op
    proc_v = _make_processor(
        ("a", "b", "c", "d"), w, emit_timeouts=True, grp=(1, 2),
        until=("x", 5.0),
    )
    m, t = _drive_nfa_rows_t(proc_v, [
        (1, 0, 0, "a", 0.0), (1, 1, 5, "x", 1.0), (1, 2, 10, "b", 0.0),
        (1, 3, 20, "c", 0.0), (1, 4, 30, "d", 0.0),
    ], [], 4, flush_ts=10_000)
    assert m == [(1, 0, 0, 10, 20, 30, 1)] and t == []

    # (5) shared-type stops rejected across the span + post-group step
    for shared in ("b", "c", "d"):
        with _pytest.raises(ValueError, match="group-span|post-group"):
            CepPattern(
                steps=("a", "b", "c", "d"),
                within_minutes=1,
                group_reps=(1, 2),
                until_type=shared,
            )
    ok = CepPattern(
        steps=("a", "b", "c", "d"), within_minutes=1, group_reps=(1, 2),
        until_type="x",
    )
    assert ok.until_type == "x"


# ---------------------------------------------------------------------------
# Round 10: group_reps × run_min_total — "(b c)+ with the c values
# totaling >= X, then d". The total accumulates the REPETITION-
# COMPLETING step's (gj's) accepted values; completion out of the
# group gates on total >= bar, an early post-group event is a relaxed
# no-op (the Kleene rule's analog). Run with the timeout side-output.
# ---------------------------------------------------------------------------


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),
            st.integers(0, 120),
            st.sampled_from(["a", "b", "c", "d"]),
            st.integers(0, 3),
        ),
        min_size=1,
        max_size=28,
    ),
    cuts=st.lists(st.integers(0, 27), max_size=4),
)
@SETTINGS
def test_cep_group_run_total_timeouts_matches_simulation(events, cuts):
    """group_reps × run_min_total(4) × timeout under every split."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c", "d"), 60
    evs5 = sorted(
        ((u, i, t, e, float(v)) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _group_full_sim(
        evs5, steps, 1, 2, window_s, run_total=4.0
    )
    proc = _make_processor(
        steps,
        window_s * 1_000_000,
        emit_timeouts=True,
        grp=(1, 2),
        run_total=4.0,
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 4, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


def test_cep_group_run_total_goldens():
    """Pinned: (1) an under-total d is a relaxed no-op — a later
    repetition lifts the total and a LATER d completes (n_rep counts
    both); (2) the total survives boundary restarts (it rides the
    anchor slot, not the discarded group slots); (3) a never-clearing
    partial times out with its stage prefix; (4) the guard composes
    with step_min_value (a guard-failing c neither completes the
    repetition nor adds to the total)."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    proc = _make_processor(
        ("a", "b", "c", "d"), w, emit_timeouts=True, grp=(1, 2),
        run_total=5.0,
    )

    def run(p, evs):
        return _drive_nfa_rows_t(p, evs, [], 4, flush_ts=10_000)

    # (1)+(2): a (b c=3) d@25 no-op, (b c=3) -> total 6, d@45 completes
    m, t = run(proc, [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "c", 3.0),
        (1, 3, 25, "d", 0.0), (1, 4, 30, "b", 0.0), (1, 5, 40, "c", 3.0),
        (1, 6, 45, "d", 0.0),
    ])
    assert m == [(1, 0, 0, 30, 40, 45, 2)] and t == []

    # (3): one under-total repetition, no more events -> timeout
    m, t = run(proc, [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "c", 3.0),
        (1, 3, 25, "d", 0.0),
    ])
    assert m == [] and t == [(1, 0, 0, 10, 20, None, 1)]

    # (4): step_min_value on c (>= 2): a c=1 is a relaxed no-op in the
    # repetition AND contributes nothing; c=5 completes rep + total
    proc_g = _make_processor(
        ("a", "b", "c", "d"), w, emit_timeouts=True, grp=(1, 2),
        run_total=5.0, mins=(None, None, 2.0, None),
    )
    m, t = run(proc_g, [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 15, "c", 1.0),
        (1, 3, 20, "c", 5.0), (1, 4, 30, "d", 0.0),
    ])
    assert m == [(1, 0, 0, 10, 20, 30, 1)] and t == []


# ---------------------------------------------------------------------------
# Round 10: group_reps × optional_steps and × strict_steps — the
# pre-group placements ("a, optional m, (b c)+, d" / "a next(m),
# (b c)+, d"). The optional pair may END at the group's first slot
# (o + 1 == gi): the skip path writes [None, first-repetition ts] and
# every group mechanism keys on stages gi..gj+1, which the pair never
# occupies. Strict steps must stay off the span and the post-group
# step (restarts make 'immediately next' ambiguous there). Run with
# the timeout side-output on; strict kills are silent discards.
# ---------------------------------------------------------------------------

GROUP5_EVENTS = st.lists(
    st.tuples(
        st.integers(1, 2),
        st.integers(0, 120),
        st.sampled_from(["a", "m", "b", "c", "d", "x"]),
    ),
    min_size=1,
    max_size=28,
)


def _run_group5(events, cuts, optionals=frozenset(), strict=frozenset()):
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "m", "b", "c", "d"), 60
    evs5 = sorted(
        ((u, i, t, e, 0.0) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _group_full_sim(
        evs5, steps, 2, 3, window_s,
        optionals=frozenset(optionals), strict=frozenset(strict),
    )
    proc = _make_processor(
        steps,
        window_s * 1_000_000,
        emit_timeouts=True,
        grp=(2, 3),
        optionals=frozenset(optionals),
        strict=frozenset(strict),
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 5, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


@given(events=GROUP5_EVENTS, cuts=st.lists(st.integers(0, 27), max_size=4))
@SETTINGS
def test_cep_group_optional_timeouts_matches_simulation(events, cuts):
    """a m? (b c)+ d × timeout under every micro-batch split: the
    optional pair ends AT the group's first slot — a b event arriving
    before any m skips the slot as NULL and opens the first
    repetition."""
    _run_group5(events, cuts, optionals={1})


@given(events=GROUP5_EVENTS, cuts=st.lists(st.integers(0, 27), max_size=4))
@SETTINGS
def test_cep_group_strict_timeouts_matches_simulation(events, cuts):
    """a next(m) (b c)+ d × timeout under every micro-batch split:
    strict kills are silent discards, never timeout rows."""
    _run_group5(events, cuts, strict={1})


def test_cep_group_optional_strict_validation_and_goldens():
    """Pinned: (1) the optional slot skips as NULL when b arrives
    first, and the match carries the NULL through restarts; (2) a
    taken m slot works identically; (3) strict m: a non-m strictly-
    later event kills the anchor SILENTLY (no timeout row) while an
    untouched anchor still times out; (4) in-span optional/strict
    placements are rejected."""
    import pytest as _pytest

    from hello_flink_spark.streaming.cep import CepPattern, _make_processor

    w = 60 * 1_000_000
    steps = ("a", "m", "b", "c", "d")

    opt = _make_processor(
        steps, w, emit_timeouts=True, grp=(2, 3), optionals=frozenset({1})
    )
    # (1) no m: b@10 skips the slot; restart (b@25 c@30) keeps NULL
    m, t = _drive_nfa_rows_t(opt, [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "c", 0.0),
        (1, 3, 25, "b", 0.0), (1, 4, 30, "c", 0.0), (1, 5, 40, "d", 0.0),
    ], [], 5, flush_ts=10_000)
    assert m == [(1, 0, 0, None, 25, 30, 40, 2)] and t == []
    # (2) m taken
    m, t = _drive_nfa_rows_t(opt, [
        (1, 0, 0, "a", 0.0), (1, 1, 5, "m", 0.0), (1, 2, 10, "b", 0.0),
        (1, 3, 20, "c", 0.0), (1, 4, 40, "d", 0.0),
    ], [], 5, flush_ts=10_000)
    assert m == [(1, 0, 0, 5, 10, 20, 40, 1)] and t == []

    str_ = _make_processor(
        steps, w, emit_timeouts=True, grp=(2, 3), strict=frozenset({1})
    )
    # (3) x@5 (strictly later, not m) kills anchor 0 silently; the
    # second user's lone anchor times out normally
    m, t = _drive_nfa_rows_t(str_, [
        (1, 0, 0, "a", 0.0), (1, 1, 5, "x", 0.0), (1, 2, 10, "m", 0.0),
        (2, 3, 0, "a", 0.0),
    ], [], 5, flush_ts=10_000)
    assert m == []
    assert t == [(2, 3, 0, None, None, None, None, 0)]

    # (4) rejections: optional inside the span / ending past gi;
    # strict on the span or the post-group step
    with _pytest.raises(ValueError, match="group"):
        CepPattern(
            steps=steps, within_minutes=1, group_reps=(2, 3),
            optional_steps=(2,),
        )
    with _pytest.raises(ValueError, match="group"):
        CepPattern(
            steps=steps, within_minutes=1, group_reps=(2, 3),
            strict_steps=(4,),
        )
    ok = CepPattern(
        steps=steps, within_minutes=1, group_reps=(2, 3),
        optional_steps=(1,),
    )
    assert ok.optional_steps == (1,)


# ---------------------------------------------------------------------------
# Round 10: group_reps × not_between / not_next — the off-span guard
# placements ("a, not-followed-by x, m, (b c)+, d" etc.). Both are
# stage-keyed, so pre-group / post-post-group placements behave as in
# plain patterns; guard kills are SILENT (violations, not timeouts).
# ---------------------------------------------------------------------------


@given(events=GROUP5_EVENTS, cuts=st.lists(st.integers(0, 27), max_size=4))
@SETTINGS
def test_cep_group_not_between_timeouts_matches_simulation(events, cuts):
    """a [no x before m] (b c)+ d × timeout: a strictly-later x kills
    the stage-1 waiter silently; group machinery untouched."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "m", "b", "c", "d"), 60
    nb = (None, "x", None, None, None)
    evs5 = sorted(
        ((u, i, t, e, 0.0) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _group_full_sim(
        evs5, steps, 2, 3, window_s, not_between=nb
    )
    proc = _make_processor(
        steps, window_s * 1_000_000, emit_timeouts=True, grp=(2, 3),
        not_between=nb,
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 5, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


@given(events=GROUP5_EVENTS, cuts=st.lists(st.integers(0, 27), max_size=4))
@SETTINGS
def test_cep_group_not_next_timeouts_matches_simulation(events, cuts):
    """a notNext(x) m (b c)+ d × timeout: the guard arms at the anchor
    (step 0 <= gi-2), resolves on the first strictly-later event, and
    its pend slot never overlaps the group's FROZEN span."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "m", "b", "c", "d"), 60
    nn = ("x", None, None, None, None)
    evs5 = sorted(
        ((u, i, t, e, 0.0) for i, (u, t, e) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _group_full_sim(
        evs5, steps, 2, 3, window_s, not_next=nn
    )
    proc = _make_processor(
        steps, window_s * 1_000_000, emit_timeouts=True, grp=(2, 3),
        not_next=nn,
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 5, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


def test_cep_group_guard_validation_and_goldens():
    """Pinned: (1) not_between x before m: x@5 kills silently, no
    timeout row; a clean run matches; (2) notNext(x) after the anchor:
    x first kills, m first clears the guard; an armed guard that
    expires unresolved is a genuine timeout; (3) in-span guard
    placements are rejected."""
    import pytest as _pytest

    from hello_flink_spark.streaming.cep import CepPattern, _make_processor

    w = 60 * 1_000_000
    steps = ("a", "m", "b", "c", "d")

    nbp = _make_processor(
        steps, w, emit_timeouts=True, grp=(2, 3),
        not_between=(None, "x", None, None, None),
    )
    m, t = _drive_nfa_rows_t(nbp, [
        (1, 0, 0, "a", 0.0), (1, 1, 5, "x", 0.0), (1, 2, 10, "m", 0.0),
        (2, 3, 0, "a", 0.0), (2, 4, 10, "m", 0.0), (2, 5, 20, "b", 0.0),
        (2, 6, 30, "c", 0.0), (2, 7, 40, "d", 0.0),
    ], [], 5, flush_ts=10_000)
    assert m == [(2, 3, 0, 10, 20, 30, 40, 1)]
    assert t == []

    nnp = _make_processor(
        steps, w, emit_timeouts=True, grp=(2, 3),
        not_next=("x", None, None, None, None),
    )
    # x@5 immediately after the anchor kills user 1 silently; user 2's
    # m@10 clears the guard and the chain completes; user 3's armed
    # guard never resolves -> genuine timeout
    m, t = _drive_nfa_rows_t(nnp, [
        (1, 0, 0, "a", 0.0), (1, 1, 5, "x", 0.0), (1, 2, 10, "m", 0.0),
        (2, 3, 0, "a", 0.0), (2, 4, 10, "m", 0.0), (2, 5, 20, "b", 0.0),
        (2, 6, 30, "c", 0.0), (2, 7, 40, "d", 0.0),
        (3, 8, 0, "a", 0.0),
    ], [], 5, flush_ts=10_000)
    assert m == [(2, 3, 0, 10, 20, 30, 40, 1)]
    assert t == [(3, 8, 0, None, None, None, None, 0)]

    with _pytest.raises(ValueError, match="group-span stage"):
        CepPattern(
            steps=steps, within_minutes=1, group_reps=(2, 3),
            not_between=(None, None, None, "x", None),
        )
    with _pytest.raises(ValueError, match="group neighborhood"):
        CepPattern(
            steps=steps, within_minutes=1, group_reps=(2, 3),
            not_next=(None, "x", None, None, None),
        )


def test_cep_reluctant_timeout_four_step_goldens():
    """Review finding r10: the 4-step reluctant × timeout path — prefix
    branches promoted PAST the loop travel as same-anchor stage-3
    partials sharing their last-accepted ts. Pinned: (1) both
    travelers expire before d → ONE timeout row carrying the
    maximal-progress branch (deepest stage, most repetitions); (2) a
    d completes BOTH travelers → two matched rows, no timeout; (3) an
    under-quota prefix left AT the loop stage while travelers advance
    never wins the collapse."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    proc = _make_processor(
        ("a", "b", "c", "d"), w, emit_timeouts=True, rep=1, reluctant=True
    )
    # a@0 b@10 b@20 c@25: both branches (m=1 last=10, m=2 last=20)
    # promote at c@25 to stage 3; no d: the collapse emits ONE row —
    # the deepest/most-repetitions branch (m=2)
    m, t = _drive_nfa_rows_t(
        proc,
        [(1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "b", 0.0),
         (1, 3, 25, "c", 0.0)],
        [], 4, flush_ts=10_000,
    )
    assert m == []
    assert t == [(1, 0, 0, 20, 25, None, 2)]

    # (2) with d@30 both travelers complete — two matched rows
    m, t = _drive_nfa_rows_t(
        proc,
        [(1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "b", 0.0),
         (1, 3, 25, "c", 0.0), (1, 4, 30, "d", 0.0)],
        [], 4, flush_ts=10_000,
    )
    assert m == [(1, 0, 0, 10, 25, 30, 1), (1, 0, 0, 20, 25, 30, 2)]
    assert t == []

    # (3) timesOrMore(2): the m=1 prefix stays AT the loop stage while
    # the m=2 head promotes at c@25; no d — the collapse still picks
    # the deeper traveler (stage 3, m=2), not the loop-stage leftover
    proc_q = _make_processor(
        ("a", "b", "c", "d"), w, emit_timeouts=True, rep=1, min_reps=2,
        reluctant=True,
    )
    m, t = _drive_nfa_rows_t(
        proc_q,
        [(1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "b", 0.0),
         (1, 3, 25, "c", 0.0)],
        [], 4, flush_ts=10_000,
    )
    assert m == []
    assert t == [(1, 0, 0, 20, 25, None, 2)]


# ---------------------------------------------------------------------------
# Round 11 (VERDICT r10 #3): group_reps × rel_guards — the last
# modelable group composition. Slot coherence is what makes it well-
# defined: pre-group value slots survive boundary restarts verbatim;
# in-span slots are truncated WITH the repetition, so an in-span ref
# reads the CURRENT repetition mid-span and the LAST completed
# repetition from the post-group step onward (the emitted-columns
# convention). A guard ON the group-start step is enforced on BOTH
# entry paths — first-repetition promotion and boundary restart — and
# a failing event is a relaxed no-op in every role. The remaining two
# compositions (× one_or_more, × any_match) are PERMANENT documented
# deltas (docs/SEMANTICS.md) with rejection tests below.
# ---------------------------------------------------------------------------


@given(
    events=GROUP_GUARD_EVENTS,
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_group_rel_guard_inspan_matches_simulation(events, cuts):
    """a (b c)+ d with c.value >= b.value (in-span guard, in-span ref):
    the guard judges each repetition against ITS OWN b — restarts
    rebuild both slots together. Matched rows carry v2 (the last
    repetition's b), pinning the slot convention through the NFA's
    emitted value columns."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c", "d"), 60
    rel = (None, None, (1, 1.0), None)
    evs5 = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want, _ = _group_full_sim(
        evs5, steps, 1, 2, window_s, rel=rel, emit_vals=(1,)
    )
    proc = _make_processor(
        steps, window_s * 1_000_000, grp=(1, 2), rel_guards=rel,
        emit_vals=(1,),
    )
    got = _drive_nfa_chunked_v(proc, evs5, cuts, 4, extra_cols=("v2", "n_rep"))
    assert got == want


@given(
    events=GROUP_GUARD_EVENTS,
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_group_rel_guard_restart_timeouts_matches_simulation(events, cuts):
    """a (b c)+ d with b.value >= a.value (guard ON the group-start
    step, pre-group ref) × timeout side-output: the guard gates the
    FIRST repetition and every boundary restart identically — a
    failing group-start event is a relaxed no-op, and a partial that
    never clears it expires as a genuine timeout."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c", "d"), 60
    rel = (None, (0, 1.0), None, None)
    evs5 = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _group_full_sim(evs5, steps, 1, 2, window_s, rel=rel)
    proc = _make_processor(
        steps, window_s * 1_000_000, emit_timeouts=True, grp=(1, 2),
        rel_guards=rel,
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 4, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


@given(
    events=GROUP_GUARD_EVENTS,
    cuts=st.lists(st.integers(0, 29), max_size=4),
)
@SETTINGS
def test_cep_group_rel_guard_postgroup_timeouts_matches_simulation(events, cuts):
    """a (b c)+ d with d.value >= c.value (post-group guard, in-span
    ref) × timeout: the guard reads the LAST completed repetition's c
    — a failing d is a relaxed no-op (the group may restart and a
    later d judges against the NEW repetition)."""
    from hello_flink_spark.streaming.cep import _make_processor

    steps, window_s = ("a", "b", "c", "d"), 60
    rel = (None, None, None, (2, 1.0))
    evs5 = sorted(
        ((u, i, t, e, v) for i, (u, t, e, v) in enumerate(events)),
        key=lambda x: (x[2], x[1]),
    )
    want_m, want_t = _group_full_sim(evs5, steps, 1, 2, window_s, rel=rel)
    proc = _make_processor(
        steps, window_s * 1_000_000, emit_timeouts=True, grp=(1, 2),
        rel_guards=rel,
    )
    got_m, got_t = _drive_nfa_rows_t(proc, evs5, cuts, 4, flush_ts=10_000)
    assert got_m == want_m
    assert got_t == want_t


def test_cep_group_rel_guard_goldens():
    """Pinned behaviors: (1) a boundary restart whose group-start
    event FAILS the guard is a relaxed no-op — the held repetition
    completes; (2) a passing restart rebuilds the span and the match
    holds the NEW repetition; (3) a post-group guard judges the LAST
    repetition's value, not an earlier one's; (4) an in-span guard
    failure is a relaxed no-op within the repetition; (5) matched rows
    emit the referenced slot (v-column) from the LAST repetition."""
    from hello_flink_spark.streaming.cep import _make_processor

    w = 60 * 1_000_000
    steps = ("a", "b", "c", "d")

    # (1)+(2): guard b >= a (restart path). a=5; b=5 opens rep 1;
    # b'=3 @30 FAILS the restart guard (no-op, rep 1 held);
    # b''=7 @35 passes -> restart; c' @40, d @45 -> n_rep=2, slots
    # hold the SECOND repetition (35, 40)
    proc = _make_processor(
        steps, w, emit_timeouts=True, grp=(1, 2),
        rel_guards=(None, (0, 1.0), None, None),
    )
    m, t = _drive_nfa_rows_t(proc, [
        (1, 0, 0, "a", 5.0), (1, 1, 10, "b", 5.0), (1, 2, 20, "c", 0.0),
        (1, 3, 30, "b", 3.0), (1, 4, 35, "b", 7.0), (1, 5, 40, "c", 0.0),
        (1, 6, 45, "d", 0.0),
    ], [], 4, flush_ts=10_000)
    assert m == [(1, 0, 0, 35, 40, 45, 2)] and t == []

    # failing restart is a NO-OP, not a kill: with no second b, the
    # held repetition still completes at d
    m, t = _drive_nfa_rows_t(proc, [
        (1, 0, 0, "a", 5.0), (1, 1, 10, "b", 5.0), (1, 2, 20, "c", 0.0),
        (1, 3, 30, "b", 3.0), (1, 4, 45, "d", 0.0),
    ], [], 4, flush_ts=10_000)
    assert m == [(1, 0, 0, 10, 20, 45, 1)] and t == []

    # (3): guard d >= c with TWO repetitions, c values 9 then 2: the
    # post-group guard reads the LAST repetition's c=2, so d=5 passes
    # (it would fail against the first repetition's 9)
    proc_pg = _make_processor(
        steps, w, emit_timeouts=True, grp=(1, 2),
        rel_guards=(None, None, None, (2, 1.0)),
    )
    m, t = _drive_nfa_rows_t(proc_pg, [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "c", 9.0),
        (1, 3, 30, "b", 0.0), (1, 4, 40, "c", 2.0), (1, 5, 50, "d", 5.0),
    ], [], 4, flush_ts=10_000)
    assert m == [(1, 0, 0, 30, 40, 50, 2)] and t == []
    # ...and against a single repetition with c=9, the same d=5 is a
    # relaxed no-op and the anchor times out
    m, t = _drive_nfa_rows_t(proc_pg, [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 0.0), (1, 2, 20, "c", 9.0),
        (1, 3, 50, "d", 5.0),
    ], [], 4, flush_ts=10_000)
    assert m == [] and t == [(1, 0, 0, 10, 20, None, 1)]

    # (4)+(5): in-span guard c >= b: c=1 against b=5 is a relaxed
    # no-op; c=8 completes the repetition; v2 carries the last
    # repetition's b
    proc_in = _make_processor(
        steps, w, grp=(1, 2),
        rel_guards=(None, None, (1, 1.0), None), emit_vals=(1,),
    )
    got = _drive_nfa_chunked_v(proc_in, [
        (1, 0, 0, "a", 0.0), (1, 1, 10, "b", 5.0), (1, 2, 15, "c", 1.0),
        (1, 3, 20, "c", 8.0), (1, 4, 30, "d", 0.0),
    ], [], 4, extra_cols=("v2", "n_rep"))
    assert got == [(1, 0, 0, 10, 20, 30, 5.0, 1)]


def test_cep_group_rel_guard_validation_and_permanent_refusals():
    """Construction rules: (1) ref 0 × run_min_total is refused (the
    anchor slot carries the running total); (2) other refs compose
    with run_min_total; (3) × one_or_more and × any_match are
    PERMANENT documented deltas — the refusal names docs/SEMANTICS.md
    (the numbered-delta contract: zero undocumented refusals reachable
    from the public surface)."""
    import pytest as _pytest

    from hello_flink_spark.streaming.cep import CepPattern

    steps = ("a", "b", "c", "d", "e")
    with _pytest.raises(ValueError, match="running TOTAL"):
        CepPattern(
            steps=steps, within_minutes=1, group_reps=(1, 2),
            run_min_total=5.0, rel_guards=(None, None, None, None, (0, 1.0)),
        )
    ok = CepPattern(
        steps=steps, within_minutes=1, group_reps=(1, 2),
        run_min_total=5.0, rel_guards=(None, None, None, None, (3, 1.0)),
    )
    assert ok.rel_guards[4] == (3, 1.0)
    ok2 = CepPattern(
        steps=steps, within_minutes=1, group_reps=(1, 2),
        rel_guards=(None, (0, 2.0), None, None, None),
    )
    assert ok2.group_reps == (1, 2)
    with _pytest.raises(ValueError, match="docs/SEMANTICS.md"):
        CepPattern(
            steps=steps, within_minutes=1, group_reps=(1, 2),
            one_or_more=3,
        )
    with _pytest.raises(ValueError, match="docs/SEMANTICS.md"):
        CepPattern(
            steps=steps, within_minutes=1, group_reps=(1, 2),
            any_match_steps=(3,),
        )
